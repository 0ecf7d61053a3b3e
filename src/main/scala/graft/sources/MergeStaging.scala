package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The merge machinery shared by [[MergeSink]] (directory-swap table)
  * and [[VersionedTable]] (file-log table): batch dedupe, the observed
  * update-wins merge whose ins/upd stats ride the staged write as
  * Observation metrics, and VersionedTable's partition census.
  *
  * SESSION DISCIPLINE lives HERE, once: under foreachBatch the batch
  * DataFrame runs on the stream's cloned session, and an Observation
  * registered on a different session's listener bus than the executing
  * one never receives its completion event — Observation.get parks the
  * micro-batch thread forever (deterministic; repro'd). So the caller
  * must build `existing` from the BATCH's session, and [[observedMerge]]
  * enforces it with a fail-fast require instead of an indefinite hang.
  */
private[sources] object MergeStaging {

  /** Update-wins within the batch: keep the row with the highest
    * `versionCol` per key (ties broken deterministically by a final
    * row_number). `assumeUniqueKeys` skips the window — a shuffle +
    * sort per merge — for producers whose batch is unique by
    * construction (a spec-checked invariant, not a convenience flag). */
  def dedupe(updates: DataFrame, keyCols: Seq[String],
      versionCol: Option[String], assumeUniqueKeys: Boolean): DataFrame =
    if (assumeUniqueKeys) updates
    else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(keyCols.map(col): _*)
        .orderBy(versionCol.map(c => desc(c)).getOrElse(lit(1)))
      updates.withColumn("__rn", row_number().over(w))
        .where(col("__rn") === 1).drop("__rn")
    }

  /** ONE census job over SQL CAST-STRING partition values, answering
    * the empty-guard, the touched-partition list and the batch row count
    * for [[VersionedTable]], whose bookkeeping lives in fragment space
    * (its file log): (castString, rowCount) per touched partition, fed
    * to [[partFragment]]. */
  def censusStrings(batch: DataFrame, partitionCol: String): Seq[(String, Long)] =
    batch.groupBy(col(partitionCol).cast("string").as("__p"))
      .agg(count(lit(1)).as("__n")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq

  /** The `<partCol>=<fragment>` directory fragment Spark's partitionBy
    * write produces for a partition value's SQL string form: the Hive
    * null sentinel for null, percent-escaped path characters otherwise
    * (Spark's own escaper). File/dir bookkeeping must match ON
    * FRAGMENTS — an interpolated raw value misses escaped dirs
    * (':' → '%3A', '/' → '%2F') and the null dir entirely. */
  def partFragment(castString: String): String =
    if (castString == null) "__HIVE_DEFAULT_PARTITION__"
    else org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .escapePathName(castString)

  /** Update-wins merge plan + deferred stats: merged = batch ∪
    * (existing anti batch), with existing-total and anti-survivor
    * counts observed INSIDE the caller's staged-write job. Call
    * `statsOf()` only AFTER an action ran the returned plan; it yields
    * (inserted, updated) given `batchTotal`. */
  def observedMerge(batch: DataFrame, existing: DataFrame,
      keyCols: Seq[String], batchTotal: Long): (DataFrame, () => (Long, Long)) = {
    require(existing.sparkSession eq batch.sparkSession,
      "merge `existing` must be read via the batch's own session: a " +
        "cross-session Observation never completes under foreachBatch " +
        "(the listener event is filtered by session) and get() hangs")
    val obsExisting = org.apache.spark.sql.Observation()
    val obsAnti = org.apache.spark.sql.Observation()
    val observed = existing.observe(obsExisting, count(lit(1)).as("n"))
    val anti = observed.join(batch, keyCols, "left_anti")
      .observe(obsAnti, count(lit(1)).as("n"))
    val merged = batch.unionByName(anti.select(batch.columns.map(col): _*))
    (merged, () => {
      val exTotal = obsExisting.get("n").asInstanceOf[Long]
      val updated = exTotal - obsAnti.get("n").asInstanceOf[Long]
      (batchTotal - updated, updated)
    })
  }
}
