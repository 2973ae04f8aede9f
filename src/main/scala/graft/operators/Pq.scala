package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.plans.{PqAdcScoreExpr, PqEncodeExpr}

/** Product quantization: codebook training, corpus encoding, and ADC
  * retrieval (Jégou et al., TPAMI 2011) — the compression tier past
  * int8 (`Similarity.annInt8Adc`, 4×) that makes a 100 TB embedding
  * corpus RAM-resident: with m = 8 blocks × 8-bit codes, a 64-dim
  * float32 vector (256 B) becomes ONE packed 64-bit long (8 B, 32×),
  * and the retrieval scan reads a single LongType column.
  *
  * The reference's declared analysis stage commits to fingerprint/
  * similarity machinery over ingested records
  * (/root/reference/docs/system-plan.md:23-27); this is that
  * capability for the embedding modality at scale.
  *
  * Everything is integer-exact (e6 element scaling, truncating
  * integer-mean centroids, Σ(v−c)² assignment, integer LUT scores) so
  * the DuckDB oracle (q123) replays training + encode + retrieval
  * bit-for-bit — the q102 convention extended to a learned codebook.
  *
  * Scale shapes:
  *  - training: each round is ONE corpus scan (the per-row assignment
  *    rides the position explode as a native `pq_encode` call against
  *    the driver-literal codebook — no join) feeding a hash aggregate
  *    keyed by (block, code, bpos): m·ksub·subdim cells, map-side
  *    combined. The m·ksub·subdim-long codebook collects to the
  *    driver each round exactly like `Similarity.kmeansRefine` —
  *    k-means' classic driver-sync point, tiny by construction.
  *  - encode: stateless one-pass map; codes are one long per vector.
  *  - retrieval: LUT built driver-side from the single query row
  *    (m·ksub·subdim integer muls), then a stateless scan of the
  *    codes column + TakeOrderedAndProject (per-partition top-k,
  *    k-row driver merge). No shuffle of the corpus, no window.
  */
object Pq {

  /** Flattened [block][code][bpos] e6-integer codebook. */
  final case class Codebook(m: Int, ksub: Int, subdim: Int, flatE6: Array[Long]) {
    require(flatE6.length == m * ksub * subdim, "codebook layout mismatch")
  }

  /** e6-floored elements of the single row of `query` — the full-
    * precision side of the asymmetric compare. Bounded: one row. */
  def queryWeightsE6(query: DataFrame, vecCol: String = "embedding"): Array[Long] = {
    val rows = query
      .select(transform(col(vecCol),
        x => floor(x.cast("double") * lit(1000000.0)).cast("long")).as("qw"))
      .collect()
    require(rows.length == 1, s"expected exactly one query row, got ${rows.length}")
    rows(0).getSeq[Long](0).toArray
  }

  /** Train an m-block, ksub-centroid codebook: deterministic
    * id-bucket seeding (the `Similarity.hashBucketCentroids` shape —
    * no RNG, no sampling job, reproducible on any engine) followed by
    * `iters` Lloyd rounds of integer k-means per block. A cluster
    * that loses all members in a round KEEPS its previous centroid
    * (the standard empty-cluster policy) — deterministic, and what
    * the DuckDB oracle replays as a LEFT JOIN + COALESCE against the
    * prior round's codebook. The seed itself must populate every
    * (block, code) cell (`require`): with dense ids and ksub ≪ n the
    * id-hash buckets always do.
    */
  def trainCodebookE6(corpus: DataFrame, m: Int = 8, ksub: Int = 16,
      iters: Int = 1, idCol: String = "vec_id",
      vecCol: String = "embedding"): Codebook =
    trainCodebookFromE6(
      corpus.select(col(idCol), toE6(col(vecCol)).as("__ve6")),
      m, ksub, iters, idCol, "__ve6")

  /** The e6-floored long-array projection of a float/double vector —
    * applied ONCE up front so training and the IVF-PQ residual path
    * share one integer-exact element representation. */
  private def toE6(vecCol: Column): Column =
    transform(vecCol, x => floor(x.cast("double") * lit(1000000.0)).cast("long"))

  /** [[trainCodebookE6]] over a corpus whose vector column is ALREADY
    * e6 longs — the IVF-PQ residual path trains here directly (the
    * residuals are exact integer differences; a float round-trip
    * would break the engine-exact oracle replay).
    */
  /** Row ceiling for driver-LOCAL codebook training (the
    * Bpe.localTrainMaxVocab pattern): at or below it the e6 corpus
    * collects once and the seed + Lloyd rounds run in driver memory
    * with bit-identical integer arithmetic; above it the distributed
    * round loop runs unchanged (the 100-TB embedding corpus case).
    * Conf-overridable (`spark.graft.pq.localTrainMaxRows`; 0 forces
    * distributed — how the differential spec pins local ≡
    * distributed). 200k × 64-dim e6 longs ≈ 100 MB of driver heap.
    */
  private val LocalTrainMaxRowsDefault = 200000L

  private def localTrainMaxRows(df: DataFrame): Long =
    df.sparkSession.conf
      .getOption("spark.graft.pq.localTrainMaxRows")
      .map(_.toLong).getOrElse(LocalTrainMaxRowsDefault)

  /** Driver-local mirror of one PQ assignment (PqEncodeExpr): per
    * block, nearest centroid by squared L2 over e6 longs, strict-<
    * tie-break to the smaller code. */
  private def assignLocal(vec: Array[Long], flat: Array[Long],
      m: Int, ksub: Int, subdim: Int, b: Int): Int = {
    var best = 0
    var bestDist = Long.MaxValue
    var c = 0
    while (c < ksub) {
      var dist = 0L
      var k = 0
      while (k < subdim) {
        val dlt = vec(b * subdim + k) - flat((b * ksub + c) * subdim + k)
        dist += dlt * dlt
        k += 1
      }
      if (dist < bestDist) { bestDist = dist; best = c }
      c += 1
    }
    best
  }

  /** Driver-local seed + Lloyd rounds — bit-identical to the
    * distributed loop: seed centroid (block, pmod(id, ksub), bpos) =
    * Σv div count (Long `/` = Spark `div` truncation), assignment via
    * the PqEncodeExpr distance/tie rule, empty Lloyd cluster keeps
    * its prior centroid, empty SEED cell throws the same
    * IllegalStateException. Replaces 2·(iters+1) aggregate-collect
    * jobs per training call with one bounded collect.
    */
  private def trainLocal(rows: Array[(Long, Array[Long])], m: Int,
      ksub: Int, subdim: Int, iters: Int): Array[Long] = {
    val cells = m * ksub * subdim
    val sums = new Array[Long](cells)
    val cnts = new Array[Long](cells)
    def reset(): Unit = { java.util.Arrays.fill(sums, 0L); java.util.Arrays.fill(cnts, 0L) }
    def fold(prev: Option[Array[Long]]): Array[Long] = {
      val flat = new Array[Long](cells)
      var i = 0
      while (i < cells) {
        if (cnts(i) > 0) flat(i) = sums(i) / cnts(i)
        else prev match {
          case Some(p) => flat(i) = p(i)
          case None =>
            val b = i / (ksub * subdim); val c = (i / subdim) % ksub
            throw new IllegalStateException(
              s"PQ seed bucket (block=$b, code=$c) is empty — corpus has " +
                s"fewer than ksub=$ksub distinct id residues")
        }
        i += 1
      }
      flat
    }
    reset()
    rows.foreach { case (id, vec) =>
      val code = (((id % ksub) + ksub) % ksub).toInt
      var b = 0
      while (b < m) {
        var j = 0
        while (j < subdim) {
          val idx = (b * ksub + code) * subdim + j
          sums(idx) += vec(b * subdim + j); cnts(idx) += 1
          j += 1
        }
        b += 1
      }
    }
    var flat = fold(None)
    for (_ <- 1 to iters) {
      reset()
      rows.foreach { case (_, vec) =>
        var b = 0
        while (b < m) {
          val code = assignLocal(vec, flat, m, ksub, subdim, b)
          var j = 0
          while (j < subdim) {
            val idx = (b * ksub + code) * subdim + j
            sums(idx) += vec(b * subdim + j); cnts(idx) += 1
            j += 1
          }
          b += 1
        }
      }
      flat = fold(Some(flat))
    }
    flat
  }

  def trainCodebookFromE6(corpusE6: DataFrame, m: Int, ksub: Int,
      iters: Int, idCol: String, vecE6Col: String): Codebook = {
    require(iters >= 0, "iters must be non-negative")
    val maxRows = localTrainMaxRows(corpusE6)
    if (maxRows > 0) {
      val lim = math.min(maxRows, (Int.MaxValue - 2).toLong).toInt
      val rows = corpusE6.select(col(idCol), col(vecE6Col)).head(lim + 1)
      if (rows.length <= lim && rows.nonEmpty) {
        val basis = rows.map(r =>
          (r.getAs[Number](0).longValue(), r.getSeq[Long](1).toArray))
        val d = basis(0)._2.length
        require(d % m == 0, s"dim $d not divisible by m = $m")
        return Codebook(m, ksub, d / m,
          trainLocal(basis, m, ksub, d / m, iters))
      }
    }
    val dim = corpusE6.select(size(col(vecE6Col)).as("d")).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m = $m")
    val subdim = dim / m

    // seed: per (block, id-bucket, pos) truncating integer mean
    var flat = collectFlat(m, ksub, subdim,
      corpusE6.select(col(idCol).as("__id"),
          posexplode(col(vecE6Col)).as(Seq("__pos", "__v")))
        .select(
          expr(s"__pos div $subdim").cast("int").as("__block"),
          pmod(col("__id"), lit(ksub)).cast("int").as("__code"),
          expr(s"__pos % $subdim").cast("int").as("__bpos"),
          col("__v"))
        .groupBy("__block", "__code", "__bpos")
        .agg(expr("sum(__v) div count(1)").as("__c")), None)

    for (_ <- 1 to iters) {
      // one scan: native per-row assignment rides the explode
      flat = collectFlat(m, ksub, subdim,
        corpusE6.select(col(idCol).as("__id"),
            PqEncodeExpr.pq_encode(col(vecE6Col), flat.toSeq, m, ksub).as("__codes"),
            posexplode(col(vecE6Col)).as(Seq("__pos", "__v")))
          .select(
            expr(s"__pos div $subdim").cast("int").as("__block"),
            expr(s"CAST(shiftright(__codes, 8 * CAST(__pos div $subdim AS INT)) & 255 AS INT)").as("__code"),
            expr(s"__pos % $subdim").cast("int").as("__bpos"),
            col("__v"))
          .groupBy("__block", "__code", "__bpos")
          .agg(expr("sum(__v) div count(1)").as("__c")), Some(flat))
    }
    Codebook(m, ksub, subdim, flat)
  }

  /** prev = None: seed pass, every cell must exist; Some(flat): Lloyd
    * round, an empty cluster falls back to its prior centroid. */
  private def collectFlat(m: Int, ksub: Int, subdim: Int,
      cells: DataFrame, prev: Option[Array[Long]]): Array[Long] = {
    val got = cells.collect()
      .map(r => ((r.getInt(0), r.getInt(1), r.getInt(2)), r.getLong(3))).toMap
    val flat = new Array[Long](m * ksub * subdim)
    for (b <- 0 until m; c <- 0 until ksub; j <- 0 until subdim) {
      val idx = (b * ksub + c) * subdim + j
      flat(idx) = got.getOrElse((b, c, j), prev match {
        case Some(p) => p(idx)
        case None => throw new IllegalStateException(
          s"PQ seed bucket (block=$b, code=$c) is empty — corpus has " +
            s"fewer than ksub=$ksub distinct id residues")
      })
    }
    flat
  }

  /** Encode the corpus: (id, codes) with all m codes packed into one
    * long — the stored form a retrieval scan reads. */
  def encode(corpus: DataFrame, cb: Codebook, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    corpus.select(col(idCol),
      PqEncodeExpr.pq_encode(col(vecCol), cb.flatE6.toSeq, cb.m, cb.ksub).as("codes"))

  /** The query's ADC lookup table: lut[b][c] = ⟨q_e6 block b,
    * centroid (b,c)⟩. Driver-side: m·ksub·subdim integer muls. */
  def lutFor(cb: Codebook, queryE6: Array[Long]): Array[Long] = {
    require(queryE6.length == cb.m * cb.subdim,
      s"query dim ${queryE6.length} != ${cb.m * cb.subdim}")
    val lut = new Array[Long](cb.m * cb.ksub)
    for (b <- 0 until cb.m; c <- 0 until cb.ksub) {
      var s = 0L
      var j = 0
      while (j < cb.subdim) {
        s += queryE6(b * cb.subdim + j) * cb.flatE6((b * cb.ksub + c) * cb.subdim + j)
        j += 1
      }
      lut(b * cb.ksub + c) = s
    }
    lut
  }

  /** ADC top-k over an encoded corpus: fused unpack+LUT-sum kernel,
    * (score desc, id) total order, per-partition top-k. */
  def adcTopK(encoded: DataFrame, cb: Codebook, queryE6: Array[Long], k: Int,
      idCol: String = "vec_id", codesCol: String = "codes"): DataFrame = {
    require(k >= 1, "k must be positive")
    encoded.select(col(idCol),
        PqAdcScoreExpr.pq_adc_score(col(codesCol), lutFor(cb, queryE6).toSeq,
          cb.m, cb.ksub).as("score_q"))
      .orderBy(col("score_q").desc, col(idCol))
      .limit(k)
  }

  /** Train + encode + retrieve in one call — the q123 shape. */
  def pqTopK(corpus: DataFrame, query: DataFrame, k: Int, m: Int = 8,
      ksub: Int = 16, iters: Int = 1, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val cb = trainCodebookE6(corpus, m, ksub, iters, idCol, vecCol)
    adcTopK(encode(corpus, cb, idCol, vecCol), cb,
      queryWeightsE6(query, vecCol), k, idCol)
  }

  // ---- IVF-PQ: coarse cells + residual codes (Jégou et al. §V) -------

  /** Coarse quantizer (ONE block over the full dim — a Codebook with
    * m = 1, ksub = ncells) + a residual PQ codebook shared across
    * cells: the inverted-file layout where a probe touches only
    * `nprobe` of `ncells` cells instead of the whole corpus. Score of
    * v in cell c is exactly ⟨q, cent_c⟩ + ⟨q, v_e6 − cent_c⟩: the
    * coarse term is a per-cell constant added driver-side, the
    * residual term is the fused ADC kernel — so the probed scan stays
    * the same one-long-per-row shape as flat PQ.
    */
  final case class IvfPqIndex(coarse: Codebook, residual: Codebook) {
    def ncells: Int = coarse.ksub
  }

  /** (id, cell, resid) — the refined coarse assignment and the exact
    * integer residual v_e6 − cent_cell. The centroid slice is indexed
    * by the ROW's cell straight out of the literal flat codebook
    * (`slice` on a computed offset) — no join against a centroid
    * table, the `kmeansAssign` broadcast-literal shape. */
  def residualsE6(corpus: DataFrame, coarse: Codebook,
      idCol: String = "vec_id", vecCol: String = "embedding",
      extraCols: Seq[String] = Nil): DataFrame = {
    require(coarse.m == 1, "coarse quantizer must be a single-block codebook")
    val dim = coarse.subdim
    corpus
      .select(col(idCol) +: extraCols.map(col) :+
        PqEncodeExpr.pq_encode(col(vecCol), coarse.flatE6.toSeq, 1, coarse.ksub)
          .cast("int").as("cell") :+
        toE6(col(vecCol)).as("__ve6"): _*)
      .select(col(idCol) +: extraCols.map(col) :+ col("cell") :+
        zip_with(col("__ve6"),
          slice(typedlit(coarse.flatE6.toSeq), col("cell") * lit(dim) + lit(1), lit(dim)),
          (v, c) => v - c).as("resid"): _*)
  }

  /** Train the coarse quantizer on full vectors, then the residual
    * codebook on exact integer residuals against the REFINED coarse
    * centroids — both with deterministic id-bucket seeds and
    * truncating-integer Lloyd rounds, so the q128 oracle replays
    * training end to end. */
  def trainIvfPq(corpus: DataFrame, ncells: Int = 4, m: Int = 8,
      ksub: Int = 16, coarseIters: Int = 1, pqIters: Int = 1,
      idCol: String = "vec_id", vecCol: String = "embedding"): IvfPqIndex = {
    val coarse = trainCodebookE6(corpus, 1, ncells, coarseIters, idCol, vecCol)
    val resid = residualsE6(corpus, coarse, idCol, vecCol)
    IvfPqIndex(coarse,
      trainCodebookFromE6(resid, m, ksub, pqIters, idCol, "resid"))
  }

  /** Encode to the inverted-file layout: (id, [metadata…,] cell,
    * codes) — one int + one packed long per vector. `extraCols` ride
    * along as FILTERABLE attributes of the index (license, source,
    * label…): stored next to the codes, they make a metadata predicate
    * an ordinary pushed parquet filter inside the probed cells — the
    * "vector search with filters" layout. */
  def encodeIvfPq(corpus: DataFrame, idx: IvfPqIndex,
      idCol: String = "vec_id", vecCol: String = "embedding",
      extraCols: Seq[String] = Nil): DataFrame =
    residualsE6(corpus, idx.coarse, idCol, vecCol, extraCols)
      .select(col(idCol) +: extraCols.map(col) :+ col("cell") :+
        PqEncodeExpr.pq_encode(col("resid"), idx.residual.flatE6.toSeq,
          idx.residual.m, idx.residual.ksub).as("codes"): _*)

  /** Persist the index partitioned BY CELL: a probe's `cell IN (...)`
    * filter becomes partition pruning — only nprobe/ncells of the
    * files are ever listed or read, the on-disk analogue of FAISS's
    * inverted lists (spec-pinned via PartitionFilters). `extraCols`
    * land as data columns, so a metadata gate is a PushedFilters entry
    * inside the surviving partitions (spec-pinned too). */
  def writeIvfPqIndex(corpus: DataFrame, idx: IvfPqIndex, path: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      extraCols: Seq[String] = Nil): Unit = {
    encodeIvfPq(corpus, idx, idCol, vecCol, extraCols)
      .write.mode("overwrite").partitionBy("cell").parquet(path)
    saveIvfPqMeta(corpus.sparkSession, idx, path)
  }

  /** Persist the index's CODEBOOKS next to its codes, under the
    * `_codebooks` subdirectory (underscore-prefixed paths are invisible
    * to Spark's file index, so the codes scan and its partition
    * discovery never see it) — a shipped index must carry everything a
    * fresh session needs to probe it, which is what lets the SQL door
    * (`graft_ivfpq_topk`) open a saved index by path alone.
    */
  def saveIvfPqMeta(spark: org.apache.spark.sql.SparkSession,
      idx: IvfPqIndex, path: String): Unit = {
    import spark.implicits._
    Seq(("coarse", idx.coarse.m, idx.coarse.ksub, idx.coarse.subdim,
        idx.coarse.flatE6.toSeq),
      ("residual", idx.residual.m, idx.residual.ksub, idx.residual.subdim,
        idx.residual.flatE6.toSeq))
      .toDF("which", "m", "ksub", "subdim", "flat_e6")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/_codebooks")
  }

  /** Load a [[saveIvfPqMeta]] artifact — probing a saved index needs
    * only its path. */
  def loadIvfPqMeta(spark: org.apache.spark.sql.SparkSession,
      path: String): IvfPqIndex = {
    import spark.implicits._
    val rows = spark.read.parquet(s"$path/_codebooks")
      .select("which", "m", "ksub", "subdim", "flat_e6")
      .as[(String, Int, Int, Int, Seq[Long])].collect()
      .map(r => r._1 -> Codebook(r._2, r._3, r._4, r._5.toArray)).toMap
    require(rows.keySet == Set("coarse", "residual"),
      s"malformed _codebooks at $path: ${rows.keySet}")
    IvfPqIndex(rows("coarse"), rows("residual"))
  }

  /** The probe set: top-`nprobe` cells by coarse inner product
    * ⟨q, cent_c⟩ (ties to the smaller cell id) — driver-side over
    * ncells scores; [[lutFor]] on the single-block coarse codebook IS
    * that score vector. */
  def probedCells(idx: IvfPqIndex, queryE6: Array[Long], nprobe: Int): Array[Int] = {
    require(nprobe >= 1 && nprobe <= idx.ncells,
      s"nprobe must be in [1, ${idx.ncells}], got $nprobe")
    lutFor(idx.coarse, queryE6).zipWithIndex
      .sortBy { case (s, c) => (-s, c) }.take(nprobe).map(_._2)
  }

  /** ADC top-k over an encoded IVF-PQ frame restricted to the probed
    * cells. `coarseScores` is indexed by cell via a literal-array
    * lookup — no join; with the [[writeIvfPqIndex]] layout the cell
    * filter prunes partitions before any file is read. */
  def ivfPqTopKFromEncoded(encoded: DataFrame, idx: IvfPqIndex,
      queryE6: Array[Long], k: Int, nprobe: Int,
      idCol: String = "vec_id"): DataFrame =
    ivfPqTopKFiltered(encoded, idx, queryE6, k, nprobe, lit(true), idCol)

  /** Filtered ANN — [[ivfPqTopKFromEncoded]] under a metadata
    * predicate (the "vector search with filters" shape every retrieval
    * platform ships: license gate, source allowlist, freshness bound).
    * The predicate lands BEFORE scoring, so over a
    * [[writeIvfPqIndex]]-layout frame the plan is: partition pruning
    * by probed cell → pushed parquet filter on the metadata column →
    * fused ADC kernel on survivors → TakeOrderedAndProject. Post-
    * filtering top-k instead would read every surviving row's code AND
    * mis-size k (the classic filtered-ANN recall bug). Predicate
    * columns must have been carried into the index via `extraCols`.
    */
  def ivfPqTopKFiltered(encoded: DataFrame, idx: IvfPqIndex,
      queryE6: Array[Long], k: Int, nprobe: Int, pred: Column,
      idCol: String = "vec_id"): DataFrame = {
    require(k >= 1, "k must be positive")
    val cells = probedCells(idx, queryE6, nprobe)
    val coarseScores = lutFor(idx.coarse, queryE6)
    val lut = lutFor(idx.residual, queryE6)
    encoded
      .filter(col("cell").isin(cells.map(Integer.valueOf).toSeq: _*) && pred)
      .select(col(idCol), col("cell"),
        (element_at(typedlit(coarseScores.toSeq), col("cell") + lit(1)) +
          PqAdcScoreExpr.pq_adc_score(col("codes"), lut.toSeq,
            idx.residual.m, idx.residual.ksub)).as("score_q"))
      .orderBy(col("score_q").desc, col(idCol))
      .limit(k)
  }

  /** Quantization-drift monitor: per coarse cell, member counts and
    * truncating-mean ADC reconstruction error (Σ_b min_c ‖r−cent‖²,
    * the `pq_encode_err` kernel) for the TRAINED catalog vs a new
    * delta encoded under the frozen codebooks. A delta error pulling
    * away from the catalog's is the retrain signal — FAISS-style
    * index health as one scan + one ncells-row aggregate, integer-
    * exact for the q132 oracle.
    */
  def ivfPqDriftStats(catalog: DataFrame, delta: DataFrame, idx: IvfPqIndex,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    def withErr(df: DataFrame, isDelta: Int): DataFrame =
      residualsE6(df, idx.coarse, idCol, vecCol)
        .select(col("cell"), lit(isDelta.toLong).as("__d"),
          graft.plans.PqEncodeErrExpr.pq_encode_err(col("resid"),
            idx.residual.flatE6.toSeq, idx.residual.m, idx.residual.ksub)
            .as("__err"))
    // error sums ride as decimal(38,0): per-vector errors are bounded
    // by the kernel's long arithmetic, but a CELL's sum over a large
    // drifted delta is not (measured: long overflow at the 10× corpus
    // under q180's planted +10 shift — DuckDB's BIGINT sum widens to
    // HUGEINT, so only the Spark side needed the width); the divided
    // averages are long-ranged again
    withErr(catalog, 0).unionByName(withErr(delta, 1))
      .groupBy(col("cell").cast("long").as("cell"))
      .agg(
        sum(when(col("__d") === 0L, 1L).otherwise(0L)).as("n_cat"),
        sum(when(col("__d") === 1L, 1L).otherwise(0L)).as("n_delta"),
        sum(when(col("__d") === 0L, col("__err")).otherwise(0L)
          .cast("decimal(38,0)")).as("__ec"),
        sum(when(col("__d") === 1L, col("__err")).otherwise(0L)
          .cast("decimal(38,0)")).as("__ed"))
      .select(col("cell"), col("n_cat"), col("n_delta"),
        when(col("n_cat") > 0L, expr("__ec div n_cat")).as("avg_err_cat"),
        when(col("n_delta") > 0L, expr("__ed div n_delta")).as("avg_err_delta"))
  }

  // ---- drift-triggered residual retrain (closes the q132 loop) -------

  /** Cells whose delta reconstruction error pulled away from the
    * catalog's, per an [[ivfPqDriftStats]] frame: `n_delta > 0` and
    * `avg_err_delta * 100 > avg_err_cat * ratioPct` — integer-exact so
    * the q180 oracle replays the trigger decision itself. ncells-row
    * collect.
    */
  def driftedCells(drift: DataFrame, ratioPct: Long = 120L): Array[Int] =
    drift.filter(col("n_delta") > 0L && col("avg_err_cat").isNotNull &&
        col("avg_err_delta") * lit(100L) > col("avg_err_cat") * lit(ratioPct))
      .select(col("cell").cast("int")).collect().map(_.getInt(0)).sorted

  /** Post-retrain index: the coarse quantizer and calm cells' residual
    * codebook are UNCHANGED; `drifted` cells re-encode under
    * `residualV2`. */
  final case class IvfPqRetrained(idx: IvfPqIndex, residualV2: Codebook,
      drifted: Seq[Int])

  /** Retrain the residual codebook for the drifted cells with the
    * coarse quantizer FROZEN — cell assignment, and therefore the
    * persisted `cell=` partition layout, survives; only the drifted
    * cells' codes change. The v2 codebook trains on the CURRENT
    * membership (catalog + delta) of those cells: deterministic
    * id-bucket seed + truncating-integer Lloyd rounds, the exact
    * [[trainCodebookFromE6]] discipline, so q180 replays v2 end to
    * end.
    */
  def retrainDrifted(catalog: DataFrame, delta: DataFrame, idx: IvfPqIndex,
      ratioPct: Long = 120L, pqIters: Int = 1,
      idCol: String = "vec_id", vecCol: String = "embedding"): IvfPqRetrained = {
    val cells = driftedCells(
      ivfPqDriftStats(catalog, delta, idx, idCol, vecCol), ratioPct)
    require(cells.nonEmpty,
      "no cell crossed the drift threshold — nothing to retrain")
    val union = catalog.select(col(idCol), col(vecCol))
      .unionByName(delta.select(col(idCol), col(vecCol)))
    val resid = residualsE6(union, idx.coarse, idCol, vecCol)
      .filter(col("cell").isin(cells.map(Integer.valueOf).toSeq: _*))
    IvfPqRetrained(idx,
      trainCodebookFromE6(resid, idx.residual.m, idx.residual.ksub, pqIters,
        idCol, "resid"),
      cells.toSeq)
  }

  /** Rewrite ONLY the drifted cells of a persisted [[writeIvfPqIndex]]
    * layout with v2 codes for the current corpus membership of those
    * cells. Dynamic partition overwrite: calm cells' files are never
    * listed, read, or replaced — byte-identical across the retrain
    * (spec-pinned), which is what makes the operation safe to run
    * against a live index.
    */
  def rewriteDriftedCells(corpus: DataFrame, rt: IvfPqRetrained, path: String,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val spark = corpus.sparkSession
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "dynamic")
    try {
      residualsE6(corpus, rt.idx.coarse, idCol, vecCol)
        .filter(col("cell").isin(rt.drifted.map(Integer.valueOf): _*))
        .select(col(idCol), col("cell"),
          PqEncodeExpr.pq_encode(col("resid"), rt.residualV2.flatE6.toSeq,
            rt.residualV2.m, rt.residualV2.ksub).as("codes"))
        .write.mode("overwrite").partitionBy("cell").parquet(path)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** Persist a retrain's OUTPUT next to the index it upgraded, under
    * `$path/_retrain` (underscore-prefixed like `_codebooks`, so the
    * codes scan and partition discovery never see it): the v2 residual
    * codebook plus the drifted-cell set. After [[rewriteDriftedCells]]
    * + this call the index directory is self-contained again — a
    * fresh session (or the SQL door's `graft_ivfpq_topk_retrained`)
    * probes the retrained index by path alone.
    */
  def saveRetrainedMeta(spark: org.apache.spark.sql.SparkSession,
      rt: IvfPqRetrained, path: String): Unit = {
    import spark.implicits._
    Seq((rt.residualV2.m, rt.residualV2.ksub, rt.residualV2.subdim,
        rt.residualV2.flatE6.toSeq, rt.drifted.map(_.toLong)))
      .toDF("m", "ksub", "subdim", "flat_e6", "drifted")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/_retrain")
  }

  /** Load a [[writeIvfPqIndex]] + [[rewriteDriftedCells]] +
    * [[saveRetrainedMeta]] directory back into the probe-side struct —
    * a retrained index needs only its path, like [[loadIvfPqMeta]]. */
  def loadIvfPqRetrained(spark: org.apache.spark.sql.SparkSession,
      path: String): IvfPqRetrained = {
    import spark.implicits._
    val idx = loadIvfPqMeta(spark, path)
    val rows = spark.read.parquet(s"$path/_retrain")
      .select("m", "ksub", "subdim", "flat_e6", "drifted")
      .as[(Int, Int, Int, Seq[Long], Seq[Long])].collect()
    require(rows.length == 1, s"malformed _retrain at $path: ${rows.length} rows")
    val (m, ksub, subdim, flat, drifted) = rows.head
    IvfPqRetrained(idx, Codebook(m, ksub, subdim, flat.toArray),
      drifted.map(_.toInt))
  }

  /** Probe a retrained index: the probe set and coarse scores come
    * from the FROZEN coarse quantizer exactly as before; each probed
    * row's ADC term uses its cell's codebook version (a codegen'd
    * branch on the bounded drifted set — no join). Partition pruning
    * by `cell` is untouched.
    */
  def ivfPqTopKRetrained(encoded: DataFrame, rt: IvfPqRetrained,
      queryE6: Array[Long], k: Int, nprobe: Int,
      idCol: String = "vec_id"): DataFrame = {
    require(k >= 1, "k must be positive")
    val cells = probedCells(rt.idx, queryE6, nprobe)
    val coarseScores = lutFor(rt.idx.coarse, queryE6)
    val lutV1 = lutFor(rt.idx.residual, queryE6)
    val lutV2 = lutFor(rt.residualV2, queryE6)
    encoded
      .filter(col("cell").isin(cells.map(Integer.valueOf).toSeq: _*))
      .select(col(idCol), col("cell"),
        (element_at(typedlit(coarseScores.toSeq), col("cell") + lit(1)) +
          when(col("cell").isin(rt.drifted.map(Integer.valueOf): _*),
            PqAdcScoreExpr.pq_adc_score(col("codes"), lutV2.toSeq,
              rt.residualV2.m, rt.residualV2.ksub))
          .otherwise(PqAdcScoreExpr.pq_adc_score(col("codes"), lutV1.toSeq,
            rt.idx.residual.m, rt.idx.residual.ksub))).as("score_q"))
      .orderBy(col("score_q").desc, col(idCol))
      .limit(k)
  }

  /** The q180 audit: per cell — membership counts, the drift verdict,
    * and the average per-vector encode error BEFORE (v1 everywhere)
    * vs AFTER the retrain (v2 in drifted cells, v1 elsewhere — calm
    * cells' codes did not change, so post ≡ pre there by construction,
    * which the output states rather than hides). `improved` is the
    * retrain contract: post ≤ pre on the drifted cells.
    */
  def retrainAudit(catalog: DataFrame, delta: DataFrame, idx: IvfPqIndex,
      ratioPct: Long = 120L, pqIters: Int = 1,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val stats = ivfPqDriftStats(catalog, delta, idx, idCol, vecCol)
    val cells = driftedCells(stats, ratioPct)
    val union = catalog.select(col(idCol), col(vecCol))
      .unionByName(delta.select(col(idCol), col(vecCol)))
    val resid = residualsE6(union, idx.coarse, idCol, vecCol)
    val pre = resid
      .select(col("cell"),
        graft.plans.PqEncodeErrExpr.pq_encode_err(col("resid"),
          idx.residual.flatE6.toSeq, idx.residual.m, idx.residual.ksub).as("__e1"))
      .groupBy(col("cell").cast("long").as("cell"))
      .agg(count(lit(1)).as("__n"),
        sum(col("__e1").cast("decimal(38,0)")).as("__s1"))
    val post =
      if (cells.isEmpty) null
      else {
        val rt = IvfPqRetrained(idx,
          trainCodebookFromE6(
            resid.filter(col("cell").isin(cells.map(Integer.valueOf).toSeq: _*)),
            idx.residual.m, idx.residual.ksub, pqIters, idCol, "resid"),
          cells.toSeq)
        resid.filter(col("cell").isin(cells.map(Integer.valueOf).toSeq: _*))
          .select(col("cell"),
            graft.plans.PqEncodeErrExpr.pq_encode_err(col("resid"),
              rt.residualV2.flatE6.toSeq, rt.residualV2.m, rt.residualV2.ksub)
              .as("__e2"))
          .groupBy(col("cell").cast("long").as("cell"))
          .agg(sum(col("__e2").cast("decimal(38,0)")).as("__s2"))
      }
    val joined =
      if (post == null) pre.withColumn("__s2", lit(null).cast("long"))
      else pre.join(post, Seq("cell"), "left")
    joined.join(stats, Seq("cell"))
      .select(col("cell"), col("n_cat"), col("n_delta"),
        col("__s2").isNotNull.as("drifted"),
        expr("__s1 div __n").as("avg_err_pre"),
        coalesce(expr("__s2 div __n"), expr("__s1 div __n")).as("avg_err_post"),
        (coalesce(expr("__s2 div __n"), expr("__s1 div __n")) <=
          expr("__s1 div __n")).as("improved"))
  }

  /** Train + encode + probe in one call — the q128 shape. */
  def ivfPqTopK(corpus: DataFrame, query: DataFrame, k: Int,
      ncells: Int = 4, nprobe: Int = 2, m: Int = 8, ksub: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val idx = trainIvfPq(corpus, ncells, m, ksub, 1, 1, idCol, vecCol)
    ivfPqTopKFromEncoded(encodeIvfPq(corpus, idx, idCol, vecCol), idx,
      queryWeightsE6(query, vecCol), k, nprobe, idCol)
  }
}
