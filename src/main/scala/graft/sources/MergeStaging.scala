package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The commit machinery shared by [[MergeSink]] (directory-swap table),
  * [[VersionedTable]] (file-log table) and the ETL pipeline's stage
  * publish: batch dedupe, the staged write (the batch runs once, its
  * row count observed on the way, one file per touched partition), the
  * observed update-wins merge of a staged batch with the live files it
  * collides with, and the checked two-rename swap. Every touched
  * partition is named by its LISTED staged dir, so no writer rebuilds a
  * dir name from a raw value and no census job runs.
  *
  * SESSION DISCIPLINE lives HERE, once: under foreachBatch the batch
  * DataFrame runs on the stream's cloned session, and an Observation
  * registered on a different session's listener bus than the executing
  * one never receives its completion event — Observation.get parks the
  * micro-batch thread forever (deterministic; repro'd). So every read
  * here goes through the BATCH's session.
  */
private[graft] object MergeStaging {

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

  /** The `<partitionCol>=<fragment>` dirs directly under `dir`. Every
    * bookkeeping step (collision probe, swap, marker, file log) works on
    * these LISTED names, never on names rebuilt from raw values: Spark
    * percent-escapes special characters (and maps null to the Hive
    * default token) in partition dir names, and String.valueOf is not
    * its SQL cast (java.sql.Timestamp appends ".0"), so a rebuilt name
    * misses such a dir. */
  def partDirs(fs: FileSystem, dir: Path, partitionCol: String): Seq[Path] =
    fs.listStatus(dir).toSeq.filter(_.isDirectory).map(_.getPath)
      .filter(_.getName.startsWith(s"$partitionCol="))

  /** Write `df` once to `dir`, partitioned by `partitionCol` with ONE
    * file per touched partition (an unrepartitioned partitionBy write
    * fans out to upstream tasks × partition values fragments, and every
    * later read pays their file-open tax). Returns the row count,
    * observed inside the write job, and the written partition dirs; an
    * empty listing means an empty batch. */
  def stage(fs: FileSystem, df: DataFrame, partitionCol: String,
      dir: Path): (Long, Seq[Path]) = {
    val obs = org.apache.spark.sql.Observation()
    df.observe(obs, count(lit(1)).as("n")).repartition(col(partitionCol))
      .write.partitionBy(partitionCol).parquet(dir.toString)
    (obs.get("n").asInstanceOf[Long], partDirs(fs, dir, partitionCol))
  }

  /** Update-wins merge of the batch staged at `staged` (by [[stage]],
    * which listed its partition dirs `parts`) with the live files `live`
    * (partition dirs or files under `basePath`): merged = batch ∪ (live
    * anti batch), written to `out` as [[stage]] writes. Both sides are
    * read through the batch's session (see the session note above) with
    * the batch's schema (no inference job); the live total and the
    * anti-join survivors are observed inside the write job. The batch is
    * read through its partition dirs, not its dot-prefixed root, which
    * Spark would report as an ignored hidden path. Returns (inserted,
    * updated). */
  def mergeStaged(batch: DataFrame, staged: Path, parts: Seq[Path],
      live: Seq[String], basePath: String, keyCols: Seq[String],
      partitionCol: String, batchTotal: Long, out: Path): (Long, Long) = {
    def reader = batch.sparkSession.read.schema(batch.schema)
    val obsLive = org.apache.spark.sql.Observation()
    val obsAnti = org.apache.spark.sql.Observation()
    val staging = reader.option("basePath", staged.toString)
      .parquet(parts.map(_.toString): _*)
    val anti = reader.option("basePath", basePath).parquet(live: _*)
      .observe(obsLive, count(lit(1)).as("n"))
      .join(staging, keyCols, "left_anti")
      .observe(obsAnti, count(lit(1)).as("n"))
    staging.unionByName(anti.select(staging.columns.map(col): _*))
      .repartition(col(partitionCol))
      .write.partitionBy(partitionCol).parquet(out.toString)
    val updated = obsLive.get("n").asInstanceOf[Long] - obsAnti.get("n").asInstanceOf[Long]
    (batchTotal - updated, updated)
  }

  /** Swap the fully written `staged` dir in at `live`: live (if any) is
    * renamed ASIDE to `aside` first, then staged renamed into place, so
    * no committed data is deleted before its replacement is live and a
    * crash at any point leaves both copies on disk. Both renames are
    * CHECKED and throw by name: a swallowed false would let the caller
    * report success (and delete the aside copy) with nothing in place.
    * `aside` must not exist and its parent must. */
  def swap(fs: FileSystem, staged: Path, live: Path, aside: Path, caller: String): Unit = {
    if (fs.exists(live) && !fs.rename(live, aside))
      throw new java.io.IOException(
        s"$caller swap: failed to move live $live aside to $aside")
    if (!fs.rename(staged, live))
      throw new java.io.IOException(
        s"$caller swap: failed to move staged $staged into place at $live")
  }
}
