package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Record linkage / entity resolution across sources: find, for every
  * record of a dirty source, the clean-source record it denotes,
  * despite name noise. The classic two-phase shape (Fellegi–Sunter
  * lineage, as run by every dedupe system since): BLOCK on cheap
  * equality keys so candidate pairs are block-bounded (never the
  * all-pairs cross product), then VERIFY candidates with an edit-
  * distance gate, then pick one best match per dirty record.
  *
  * A training-data platform runs this when the same upstream site
  * arrives via two crawls with jittered metadata, or when aligning a
  * license registry to crawl records — the entity-level counterpart of
  * the document-level near-dup tier (q38/q44).
  */
object Linkage {

  /** Link `dirty` records to `clean` records.
    *
    * `blockCols` must exist in both inputs — candidate pairs form ONLY
    * within equal block keys. `maxDist` gates plain Levenshtein on the
    * name columns; per dirty id the best surviving candidate wins
    * (min distance, then min clean id — total order, deterministic).
    *
    * Returns (dirty_id, clean_id, dist) — unmatched dirty records are
    * absent (a caller wanting them does a left-anti join on the
    * result, which is how `corpusDiff` reports novelty too).
    *
    * Scale shape: the only shuffle is the equi-join on the block key;
    * within-block pair counts are |block|² so blocking design is the
    * contract (the Scaladoc of `Dedup.nearDupes` discusses the same
    * bound) — a skewed block key should be composited (add a second
    * column) rather than salted, because salting an equality block
    * would split true pairs apart. Levenshtein runs on candidate pairs
    * only, and the best-match window partitions by dirty id (group
    * sizes = candidate counts, never corpus-sized).
    */
  def blockedLink(dirty: DataFrame, dirtyIdCol: String, dirtyNameCol: String,
      clean: DataFrame, cleanIdCol: String, cleanNameCol: String,
      blockCols: Seq[String], maxDist: Int): DataFrame = {
    require(blockCols.nonEmpty && maxDist >= 0, "need block columns and maxDist >= 0")
    val d = dirty.select((Seq(dirtyIdCol, dirtyNameCol) ++ blockCols).map(col): _*)
      .withColumnRenamed(dirtyIdCol, "dirty_id")
      .withColumnRenamed(dirtyNameCol, "__dn")
    val c = clean.select((Seq(cleanIdCol, cleanNameCol) ++ blockCols).map(col): _*)
      .withColumnRenamed(cleanIdCol, "clean_id")
      .withColumnRenamed(cleanNameCol, "__cn")
    val cand = d.join(c, blockCols)
      .withColumn("dist", levenshtein(col("__dn"), col("__cn")).cast("long"))
      .filter(col("dist") <= maxDist)
    val w = Window.partitionBy(col("dirty_id"))
      .orderBy(col("dist"), col("clean_id"))
    cand.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select("dirty_id", "clean_id", "dist")
  }
}
