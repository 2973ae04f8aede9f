package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Unigram-LM vocabulary induction (the deterministic integer core of
  * Kudo, "Subword Regularization: ... Multiple Subword Candidates",
  * ACL 2018 — the SentencePiece unigram model): seed a candidate
  * piece inventory from frequent substrings, segment every word by
  * greedy longest match, and keep the pieces that earn their place
  * (utility = frequency-weighted usage under the segmentation). This
  * completes the tokenizer lifecycle next to BPE (q125 trains merges,
  * q129 applies them): BPE grows a vocab bottom-up by merging; the
  * unigram model starts big and PRUNES — the two families production
  * tokenizers come from.
  *
  * Everything is exact integer arithmetic over deterministic
  * tie-free choices (the longest match at a position is unique
  * because a candidate piece IS the substring it matches), so q148
  * replays training end-to-end in DuckDB — the q125 unrolled-CTE
  * pattern applied to segmentation steps instead of merge rounds.
  *
  * Distributed shape (the 100 TB posture):
  *  - the corpus reduces ONCE to the word-frequency basis (the q116/
  *    q125 hash-agg shape); training never touches corpus text again;
  *  - candidate counting is one explode of per-word substring lists
  *    over that basis + a map-side-combined sum with a count floor —
  *    the candidate space is bounded by the floor (|cand| ≤ weighted
  *    substring mass / minPieceCount), which is what licenses
  *    collecting it: the set is baked into a native kernel
  *    ([[graft.plans.GreedyPiecesExpr]]) and segmentation is ONE
  *    codegen'd pass over the vocab-sized basis — no joins, no
  *    per-step jobs. (A 16-step lockstep-join formulation was built
  *    first and measured 19.4 s at the 10× corpus on pure fixed
  *    overhead — checkpoint + 3 broadcast builds per step; the
  *    kernel form is a single job.)
  */
object Unigram {

  /** Train the pruned piece vocabulary. Returns (piece, cp, utility):
    * the candidate's raw frequency-weighted substring count and its
    * usage under greedy segmentation; only pieces with
    * `utility >= minUtility` survive.
    *
    * Words longer than `maxWordLen` are dropped from the basis (the
    * unrolled replay bound — raise it for morpheme-rich corpora).
    * `maxCandidates` is the driver-collect guard (the limit+require
    * overflow pattern): a corpus whose floor admits more candidates
    * than this should raise the floor, not the cap.
    */
  def pruneVocab(docs: DataFrame, textCol: String,
      minPieceCount: Long = 50L, minUtility: Long = 50L,
      maxPieceLen: Int = 4, maxWordLen: Int = 16,
      maxCandidates: Int = 1 << 20): DataFrame = {
    require(maxPieceLen >= 2 && maxWordLen >= maxPieceLen,
      "need maxPieceLen >= 2 and maxWordLen >= maxPieceLen")
    // persist BEFORE the local-ceiling probe so the probe's head job
    // and the distributed fallback share one corpus pass (the probe's
    // shuffle output is reused either way; a discarded probe plan
    // would tokenize the corpus twice exactly on the huge-vocab
    // corpora the fallback exists for)
    val words = emWordsPlan(docs, textCol, maxWordLen).persist()
    collectWordsIfSmall(words, localMaxWords(docs)) match {
      case Some(ws) =>
        words.unpersist()
        return pruneVocabLocal(docs.sparkSession, ws,
          minPieceCount, minUtility, maxPieceLen, maxCandidates)
      case None => ()
    }
    try {
      val subs = (2 to maxPieceLen).map { l =>
        words.filter(length(col("word")) >= l)
          .select(explode(expr(
            s"transform(sequence(0, length(word) - $l), i -> substring(word, i + 1, $l))"))
            .as("piece"), col("freq"))
      }.reduce(_ unionByName _)
      // not persisted: the collect below and the final cp join each
      // re-run one vocab-sized aggregate over the CACHED word basis
      val cand = subs.groupBy("piece").agg(sum("freq").as("cp"))
        .filter(col("cp") >= minPieceCount)
      val collected = cand.select("piece").limit(maxCandidates + 1)
        .collect().map(_.getString(0))
      require(collected.length <= maxCandidates,
        s"candidate set exceeds maxCandidates=$maxCandidates — raise minPieceCount")
      val usage = words
        .select(explode(graft.plans.GreedyPiecesExpr.greedyPieces(
          col("word"), collected.toSeq, maxPieceLen)).as("piece"), col("freq"))
        .groupBy("piece").agg(sum("freq").as("utility"))
        .filter(col("utility") >= minUtility)
      cand.join(usage, "piece")
        .select(col("piece"), col("cp"), col("utility"))
    } finally { words.unpersist(); () }
  }

  /** Sentinel cost for a single character outside the vocab. Training
    * never hits it (every corpus character IS a vocab entry by
    * construction), but the DP must be total; both engines use the
    * same constant so the contract stays engine-identical either way.
    */
  val UnkCostE6: Long = 1000000000L

  private val CountSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("piece",
      org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField("cnt",
      org.apache.spark.sql.types.LongType, nullable = false)))

  /** The shared EM front half (one definition so a fix cannot miss a
    * variant): persist the word-frequency basis, build the seed vocab
    * (all single chars + floored multi-char substrings) under the
    * `maxCandidates` limit+require guard, run `f` over (words, seed),
    * and always unpersist the basis.
    */
  /** The persisted word-frequency basis every unigram trainer reduces
    * the corpus to — one definition so the LOCAL probe collects exactly
    * the frame the distributed loop aggregates.
    */
  private def emWordsPlan(docs: DataFrame, textCol: String,
      maxWordLen: Int): DataFrame =
    docs.select(explode(TextFunctions.tokens(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .filter(length(col("word")) <= maxWordLen)

  /** Word-count ceiling for driver-LOCAL EM/prune rounds (the
    * bpe.localTrainMaxVocab pattern): a word basis at or below it
    * collects once (`head(max+1)` — one bounded job) and every
    * training round runs in driver memory calling the SAME native
    * segmentation kernels ([[graft.plans.ViterbiPiecesExpr]]/
    * [[graft.plans.GreedyPiecesExpr]] `compute`), so segmentation
    * cannot diverge by construction; costs mirror Spark's expression
    * bit-for-bit (StrictMath.log — Spark's Log implementation — then
    * Math.floor). Above the ceiling (corpus vocabularies beyond
    * driver memory) the distributed round loop runs unchanged. Conf:
    * `spark.graft.unigram.localMaxWords`; 0 forces distributed (the
    * differential spec's pin).
    */
  private val LocalMaxWordsDefault = 1000000L

  private def localMaxWords(df: DataFrame): Long =
    df.sparkSession.conf.getOption("spark.graft.unigram.localMaxWords")
      .map(_.toLong).getOrElse(LocalMaxWordsDefault)

  private def collectWordsIfSmall(words: DataFrame,
      max: Long): Option[Array[(String, Long)]] = {
    if (max <= 0) return None
    val lim = math.min(max, (Int.MaxValue - 2).toLong).toInt
    val rows = words.head(lim + 1)
    if (rows.length > lim) None
    else Some(rows.map(r => (r.getString(0), r.getLong(1))))
  }

  /** UTF-16 offsets of each code point — the driver mirror of the
    * code-point arithmetic Spark's `substring`/`length` (and both
    * kernels) use. */
  private def cpOffsets(w: String): Array[Int] = {
    val n = w.codePointCount(0, w.length)
    val offs = new Array[Int](n + 1)
    var k = 0
    var o = 0
    while (k < n) { offs(k) = o; o = w.offsetByCodePoints(o, 1); k += 1 }
    offs(n) = w.length
    offs
  }

  /** Frequency-weighted substring counts for piece lengths
    * `minLen..maxPieceLen` — the driver mirror of the `subs`/`cand`
    * aggregates (every position counts, exactly like the
    * transform-over-sequence explode). */
  private def localPieceCounts(ws: Array[(String, Long)], minLen: Int,
      maxPieceLen: Int): scala.collection.mutable.LinkedHashMap[String, Long] = {
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    ws.foreach { case (w, f) =>
      val offs = cpOffsets(w)
      val n = offs.length - 1
      var l = minLen
      while (l <= math.min(maxPieceLen, n)) {
        var i = 0
        while (i + l <= n) {
          val p = w.substring(offs(i), offs(i + l))
          m.update(p, m.getOrElse(p, 0L) + f)
          i += 1
        }
        l += 1
      }
    }
    m
  }

  /** Driver mirror of [[costsOf]]: floor(−ln(cnt/total)·10⁶) with the
    * identical IEEE ops (double casts, StrictMath.log — what Spark's
    * Log expression calls — Math.floor, long cast). */
  private def costsOfLocal(counts: Seq[(String, Long)]): Map[String, Long] = {
    val total = counts.map(_._2).sum
    counts.map { case (p, c) =>
      p -> math.floor(-StrictMath.log(c.toDouble / total.toDouble) * 1000000.0).toLong
    }.toMap
  }

  /** Frequency-weighted piece usage of one segmentation kernel over
    * the collected basis — the one accumulation loop both local
    * E-steps share. */
  private def kernelUsage(ws: Array[(String, Long)],
      segment: org.apache.spark.unsafe.types.UTF8String =>
        org.apache.spark.sql.catalyst.util.ArrayData): Map[String, Long] = {
    val usage = scala.collection.mutable.HashMap.empty[String, Long]
    ws.foreach { case (w, f) =>
      val arr = segment(org.apache.spark.unsafe.types.UTF8String.fromString(w))
      var i = 0
      while (i < arr.numElements()) {
        val p = arr.getUTF8String(i).toString
        usage.update(p, usage.getOrElse(p, 0L) + f)
        i += 1
      }
    }
    usage.toMap
  }

  /** Driver E-step over the collected basis — calls the SAME kernel
    * instance the distributed pass codegens ([[graft.plans.ViterbiPiecesExpr]]
    * `compute`), so segmentation is identical by construction. */
  private def viterbiUsageLocal(ws: Array[(String, Long)], vocab: Seq[String],
      cm: Map[String, Long], maxPieceLen: Int): Map[String, Long] = {
    val kernel = graft.plans.ViterbiPiecesExpr(
      org.apache.spark.sql.catalyst.expressions.Literal.create("",
        org.apache.spark.sql.types.StringType),
      vocab, vocab.map(cm), maxPieceLen, UnkCostE6)
    kernelUsage(ws, kernel.compute)
  }

  /** Driver-local [[pruneVocab]] (same candidate arithmetic, same
    * greedy kernel, same filters). */
  private def pruneVocabLocal(spark: org.apache.spark.sql.SparkSession,
      ws: Array[(String, Long)], minPieceCount: Long, minUtility: Long,
      maxPieceLen: Int, maxCandidates: Int): DataFrame = {
    val cand = localPieceCounts(ws, 2, maxPieceLen)
      .filter { case (_, cp) => cp >= minPieceCount }
    require(cand.size <= maxCandidates,
      s"candidate set exceeds maxCandidates=$maxCandidates — raise minPieceCount")
    val kernel = graft.plans.GreedyPiecesExpr(
      org.apache.spark.sql.catalyst.expressions.Literal.create("",
        org.apache.spark.sql.types.StringType),
      cand.keys.toSeq, maxPieceLen)
    val usage = kernelUsage(ws, kernel.compute)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("piece",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("cp",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("utility",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val rows = cand.iterator.flatMap { case (p, cp) =>
      usage.get(p).filter(_ >= minUtility).map(u =>
        org.apache.spark.sql.Row(p, cp, u))
    }.toSeq
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  private def withEmBasis[T](words: DataFrame,
      minPieceCount: Long, maxPieceLen: Int,
      maxCandidates: Int)(f: (DataFrame, Array[(String, Long)]) => T): T = {
    try {
      val subs = (1 to maxPieceLen).map { l =>
        words.filter(length(col("word")) >= l)
          .select(explode(expr(
            s"transform(sequence(0, length(word) - $l), i -> substring(word, i + 1, $l))"))
            .as("piece"), col("freq"))
      }.reduce(_ unionByName _)
      val cand = subs.groupBy("piece").agg(sum("freq").as("cp"))
        .filter(length(col("piece")) === 1 || col("cp") >= minPieceCount)
      val seed = cand.limit(maxCandidates + 1).collect()
        .map(r => (r.getString(0), r.getLong(1)))
      require(seed.length <= maxCandidates,
        s"vocab exceeds maxCandidates=$maxCandidates — raise minPieceCount")
      f(words, seed)
    } finally { words.unpersist(); () }
  }

  /** Round costs in integer micro-nats, derived in SPARK SQL (not
    * driver Math.log) so the expression tree is the exact one the
    * oracle replays in DuckDB.
    */
  private def costsOf(spark: org.apache.spark.sql.SparkSession,
      counts: Seq[(String, Long)]): Map[String, Long] = {
    val total = counts.map(_._2).sum
    spark.createDataFrame(
        java.util.Arrays.asList(counts.map(c =>
          org.apache.spark.sql.Row(c._1, c._2)): _*), CountSchema)
      .select(col("piece"),
        floor(-log(col("cnt").cast("double") / lit(total).cast("double")) * 1000000.0)
          .cast("long").as("cost"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** One E-step: Viterbi-segment the word basis under `cm`'s costs and
    * return frequency-weighted piece usage.
    */
  private def viterbiUsage(words: DataFrame, vocab: Seq[String],
      cm: Map[String, Long], maxPieceLen: Int): Map[String, Long] =
    words
      .select(explode(graft.plans.ViterbiPiecesExpr.viterbiPieces(
        col("word"), vocab, vocab.map(cm), maxPieceLen, UnkCostE6)).as("piece"),
        col("freq"))
      .groupBy("piece").agg(sum("freq").as("u"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Full unigram-LM EM training (Kudo, ACL 2018, §3.2) over a FIXED
    * vocabulary — the probability-re-estimation loop q148's one-shot
    * pruning approximates. Deterministic-by-construction variant:
    *
    *  - the vocabulary is every corpus character plus every substring
    *    of code-point length 2..`maxPieceLen` whose frequency-weighted
    *    count clears `minPieceCount` (single chars are exempt from the
    *    floor — they are the coverage fallback Kudo never prunes);
    *  - round r's piece costs are integer micro-nats
    *    floor(−ln(cnt_r / total_r)·10⁶) — ratio and ln computed in ONE
    *    Spark expression over the vocab-sized counts (the q88 IEEE-ln
    *    convention: ÷ is correctly rounded and both engines' ln agreed
    *    on every fixture+scale sweep to date; the floor makes all
    *    downstream arithmetic integer);
    *  - the E-step is the VITERBI segmentation (hard counts) — the
    *    documented deterministic approximation of lattice expected
    *    counts ([[graft.plans.ViterbiPiecesExpr]]: min-cost DP,
    *    largest-piece tie-break) — one codegen'd pass over the word
    *    basis, usage summed with word frequency;
    *  - the M-step is add-one smoothing: cnt_{r+1}(p) = usage_r(p) + 1
    *    for EVERY vocab piece, so no probability hits zero and the
    *    vocab stays fixed (pruning is [[pruneVocab]]'s job).
    *
    * Returns (piece, cp, u1 … uR): the seed count and each round's
    * smoothed usage — the full EM trajectory, so a hash oracle pins
    * every round, not just the last.
    *
    * Scale shape (the 100 TB posture): the corpus reduces ONCE to the
    * persisted word-frequency basis; each EM round is ONE kernel pass
    * over that vocab-bounded basis plus one vocab-sized aggregate —
    * rounds never touch corpus text. Costs/counts are vocab-sized and
    * collected under the `maxCandidates` limit+require guard.
    */
  /** The EM seed over a COLLECTED basis — driver mirror of
    * [[withEmBasis]]'s cand aggregate (single chars exempt from the
    * count floor, same maxCandidates guard). */
  private def emSeedLocal(ws: Array[(String, Long)], minPieceCount: Long,
      maxPieceLen: Int, maxCandidates: Int): Array[(String, Long)] = {
    val seed = localPieceCounts(ws, 1, maxPieceLen).iterator.filter {
      case (p, cp) => p.codePointCount(0, p.length) == 1 || cp >= minPieceCount
    }.toArray
    require(seed.length <= maxCandidates,
      s"vocab exceeds maxCandidates=$maxCandidates — raise minPieceCount")
    seed
  }

  /** The shared fixed-vocab EM round loop: `usageFn(vocab, counts)` is
    * one E-step (distributed kernel pass or driver-local kernel loop —
    * the SAME per-word kernel either way). */
  private def emRounds(spark: org.apache.spark.sql.SparkSession,
      seed: Array[(String, Long)], rounds: Int,
      usageFn: (Seq[String], Seq[(String, Long)]) => Map[String, Long]): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val vocab = seed.map(_._1).toSeq.sorted
    var counts: Seq[(String, Long)] = seed.toSeq.sortBy(_._1)
    val roundUsage = (1 to rounds).map { _ =>
      val usage = usageFn(vocab, counts)
      val smoothed = vocab.map(p => p -> (usage.getOrElse(p, 0L) + 1L))
      counts = smoothed
      smoothed.toMap
    }
    val outSchema = StructType(
      StructField("piece", StringType, nullable = false) +:
      StructField("cp", LongType, nullable = false) +:
      (1 to rounds).map(r => StructField(s"u$r", LongType, nullable = false)))
    val cp0 = seed.toMap
    val rows = vocab.map { p =>
      org.apache.spark.sql.Row.fromSeq(
        p +: cp0(p) +: roundUsage.map(_.apply(p)))
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), outSchema)
  }

  def emTrain(docs: DataFrame, textCol: String, rounds: Int,
      minPieceCount: Long = 50L, maxPieceLen: Int = 4, maxWordLen: Int = 16,
      maxCandidates: Int = 1 << 20): DataFrame = {
    require(rounds >= 1, "need at least one EM round")
    require(maxPieceLen >= 2 && maxWordLen >= maxPieceLen,
      "need maxPieceLen >= 2 and maxWordLen >= maxPieceLen")
    val spark = docs.sparkSession
    // persist before the probe: the probe's head job and the
    // distributed fallback share one corpus pass (see pruneVocab)
    val wordsDf = emWordsPlan(docs, textCol, maxWordLen).persist()
    collectWordsIfSmall(wordsDf, localMaxWords(docs)) match {
      case Some(ws) =>
        wordsDf.unpersist()
        val seed = emSeedLocal(ws, minPieceCount, maxPieceLen, maxCandidates)
        emRounds(spark, seed, rounds, (vocab, counts) =>
          viterbiUsageLocal(ws, vocab, costsOfLocal(counts), maxPieceLen))
      case None =>
        withEmBasis(wordsDf, minPieceCount, maxPieceLen,
            maxCandidates) { (words, seed) =>
          emRounds(spark, seed, rounds, (vocab, counts) =>
            viterbiUsage(words, vocab, costsOf(spark, counts), maxPieceLen))
        }
    }
  }

  /** [[emTrain]] with the PRUNING step that completes Kudo's loop:
    * after each round's M-step, only the `keepTop` highest-usage
    * MULTI-char pieces survive into the next round's vocabulary
    * ((count DESC, piece) order — usage+1 is monotone in usage, so the
    * rank is the usage rank); single characters are never pruned (the
    * coverage fallback). The next round's costs renormalize over the
    * SHRUNKEN vocab, so probability mass freed by pruned pieces flows
    * to the survivors — the effect a post-hoc one-shot prune
    * ([[pruneVocab]]) cannot reproduce. Returns the final
    * (piece, cnt) vocabulary.
    *
    * Same scale shape as [[emTrain]]: corpus → persisted word basis
    * once; each round is one kernel pass + vocab-sized round-trips
    * (strictly shrinking after round 1).
    */
  /** The shared shrinking-vocab train-prune loop (see [[emRounds]] for
    * the usageFn contract). */
  private def emPrunedRounds(spark: org.apache.spark.sql.SparkSession,
      seed: Array[(String, Long)], rounds: Int, keepTop: Int,
      usageFn: (Seq[String], Seq[(String, Long)]) => Map[String, Long]): DataFrame = {
    def isChar(p: String): Boolean = p.codePointCount(0, p.length) == 1
    var counts: Seq[(String, Long)] = seed.toSeq.sortBy(_._1)
    for (_ <- 1 to rounds) {
      val vocab = counts.map(_._1)
      val usage = usageFn(vocab, counts)
      val smoothed = vocab.map(p => p -> (usage.getOrElse(p, 0L) + 1L))
      val (chars, multi) = smoothed.partition(c => isChar(c._1))
      val kept = chars ++ multi.sortBy { case (p, c) => (-c, p) }.take(keepTop)
      counts = kept.sortBy(_._1)
    }
    spark.createDataFrame(
      java.util.Arrays.asList(counts.map(c =>
        org.apache.spark.sql.Row(c._1, c._2)): _*), CountSchema)
  }

  def emTrainPruned(docs: DataFrame, textCol: String, rounds: Int,
      keepTop: Int, minPieceCount: Long = 50L, maxPieceLen: Int = 4,
      maxWordLen: Int = 16, maxCandidates: Int = 1 << 20): DataFrame = {
    require(rounds >= 1, "need at least one EM round")
    require(keepTop >= 1, "keepTop must be positive")
    require(maxPieceLen >= 2 && maxWordLen >= maxPieceLen,
      "need maxPieceLen >= 2 and maxWordLen >= maxPieceLen")
    val spark = docs.sparkSession
    val wordsDf = emWordsPlan(docs, textCol, maxWordLen).persist()
    collectWordsIfSmall(wordsDf, localMaxWords(docs)) match {
      case Some(ws) =>
        wordsDf.unpersist()
        val seed = emSeedLocal(ws, minPieceCount, maxPieceLen, maxCandidates)
        emPrunedRounds(spark, seed, rounds, keepTop, (vocab, counts) =>
          viterbiUsageLocal(ws, vocab, costsOfLocal(counts), maxPieceLen))
      case None =>
        withEmBasis(wordsDf, minPieceCount, maxPieceLen,
            maxCandidates) { (words, seed) =>
          emPrunedRounds(spark, seed, rounds, keepTop, (vocab, counts) =>
            viterbiUsage(words, vocab, costsOf(spark, counts), maxPieceLen))
        }
    }
  }
}
