package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** MERGE-style idempotent upsert into a partitioned parquet table — the
  * Spark emulation of the reference's SQLite `INSERT ... ON CONFLICT
  * (ticker, date, source)` bars sink (/root/reference/etl/
  * database_manager.py:1603-1687), shaped like Delta's `MERGE WHEN
  * MATCHED UPDATE / WHEN NOT MATCHED INSERT`.
  *
  * Scale design: the batch is staged first, and only live partitions it
  * COLLIDES with are read, merged (update-wins anti-join), rewritten to
  * a staging dir, and swapped in via filesystem rename — a 100 TB table
  * with a daily delta rewrites only the delta's partitions, never the
  * table, and a delta that lands in new partitions (every live fill
  * date) reads no live data at all.
  *
  * Atomicity contract (plain parquet, no log): readers never see a
  * HALF-WRITTEN partition (data is staged under dot-dirs that parquet
  * readers ignore, and enters the live tree only by rename). The batch
  * lands first in `.incoming_<tx>`; that dir is never a merged
  * replacement, so it is renamed to `.staging_<tx>` only when no live
  * partition collides, and otherwise feeds a merge written to
  * `.staging_<tx>` and is deleted. The swap is two renames per
  * partition — live aside to `.trash_<tx>`, then staged in — so no
  * committed data is ever deleted before its replacement is live; a
  * crash anywhere leaves both copies on disk. A reader racing the two
  * renames can still observe the partition MISSING for that instant
  * (rename-window, not data-loss), and a crash between partitions
  * leaves a torn multi-partition upsert: both are detectable
  * (`lastCommit` manifest is written only after all swaps) and
  * repairable by `recover()`, which rolls forward any staging dir that
  * finished writing (`_SUCCESS` present) and discards the rest,
  * `.incoming_` dirs included.
  */
final class MergeSink(spark: SparkSession, path: String,
    keyCols: Seq[String], partitionCol: String) {
  require(keyCols.nonEmpty && !keyCols.contains(partitionCol))

  final case class MergeStats(inserted: Long, updated: Long, partitions: Long)

  private def fs = new Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  def exists: Boolean = fs.exists(new Path(path))

  def read(): DataFrame = spark.read.parquet(path)

  /** Upsert `updates`; rows matching an existing key replace it, others
    * insert. Duplicate keys WITHIN the batch keep the row with the
    * highest `versionCol` (ties broken arbitrarily but deterministically
    * by a final row_number), mirroring last-write-wins.
    *
    * The batch executes ONCE, in the `.incoming_` write (under
    * foreachBatch that write is also the job that runs the stream's
    * stateful operator), with its row count observed on the way; an
    * upsert into new partitions is that one job plus renames.
    *
    * `assumeUniqueKeys`: the caller asserts `updates` already holds at
    * most one row per key, skipping the dedupe window (a shuffle + sort
    * per merge — pure per-micro-batch overhead for streaming producers
    * whose batch is unique by construction, e.g. the live engine's
    * monotonically-id'd fills). Violating the assertion leaves duplicate
    * keys in the merged partition — only set it when the producer proves
    * uniqueness (a spec-checked invariant, not a convenience flag). */
  def upsert(updates: DataFrame, versionCol: Option[String] = None,
      assumeUniqueKeys: Boolean = false): MergeStats = {
    val batch = MergeStaging.dedupe(updates, keyCols, versionCol, assumeUniqueKeys)
    val root = new Path(path)
    val created = !exists
    val txid = java.util.UUID.randomUUID().toString.take(8)
    val incoming = new Path(root, s".incoming_$txid")
    val staging = new Path(root, s".staging_$txid")
    // the batch's row count is observed inside its one write, which
    // must run on the batch's session (MergeStaging's session note)
    val (batchTotal, parts) = MergeStaging.stage(fs, batch, partitionCol, incoming)
    if (parts.isEmpty) {
      // an empty batch must NOT create (or version) the table: a
      // zero-row partitionBy write leaves a directory with no parquet
      // footer, and every later upsert/read dies on schema inference (a
      // streaming query whose first micro-batch produces no rows —
      // e.g. warmup bars — hits exactly this)
      fs.delete(if (created) root else incoming, true)
      return MergeStats(inserted = 0, updated = 0, partitions = 0)
    }
    val colliding = parts.map(p => new Path(root, p.getName)).filter(fs.exists)
    val (inserted, updated) =
      if (colliding.isEmpty) {
        if (!fs.rename(incoming, staging))
          throw new java.io.IOException(
            s"upsert: failed to move incoming $incoming to $staging")
        (batchTotal, 0L)
      } else {
        // reads only the colliding live dirs (no full-table listing);
        // basePath keeps the partition column
        val stats = MergeStaging.mergeStaged(batch, incoming, parts, colliding.map(_.toString),
          path, keyCols, partitionCol, batchTotal, staging)
        fs.delete(incoming, true)
        stats
      }
    val swapped = swapIn(staging, txid, "upsert")
    writeCommitMarker(swapped, inserted, updated, txid)
    fs.delete(staging, true)
    fs.delete(new Path(root, s".trash_$txid"), true)
    MergeStats(inserted, updated, swapped.length.toLong)
  }

  /** Swap each partition dir of the committed staging dir `st` in: live
    * is renamed ASIDE to `.trash_<txid>` (never deleted) before staged
    * replaces it, so a crash at any point leaves every row recoverable
    * on disk. Both renames are CHECKED: a swallowed false would record
    * the partition as swapped, publish the marker, then DELETE the
    * staged dir — losing the batch's rows with a marker claiming
    * success. Throwing instead leaves staging (with _SUCCESS) and trash
    * on disk, which is exactly the crash shape recover() rolls forward.
    * Returns the swapped fragments. */
  private def swapIn(st: Path, txid: String, caller: String): Seq[String] = {
    val trash = new Path(s"$path/.trash_$txid")
    fs.mkdirs(trash)
    MergeStaging.partDirs(fs, st, partitionCol).map { staged =>
      val part = staged.getName
      MergeStaging.swap(fs, staged, new Path(s"$path/$part"), new Path(trash, part), caller)
      part.stripPrefix(s"$partitionCol=")
    }
  }

  /** Repair after a crashed `upsert`: roll FORWARD every staging dir
    * whose parquet job committed (`_SUCCESS` present — its partitions
    * are complete merged replacements, so finishing the swap is always
    * safe), discard staging dirs that never finished writing (no swap
    * was attempted for those: swaps start only after the write returns)
    * and every `.incoming_` dir (a staged batch, not a replacement), and
    * clear trash dirs last. Idempotent; returns swapped partitions.
    */
  def recover(): Seq[String] = {
    val root = new Path(path)
    if (!fs.exists(root)) return Seq.empty
    val entries = fs.listStatus(root).map(_.getPath).toSeq
    entries.filter(_.getName.startsWith(".incoming_")).foreach(fs.delete(_, true))
    val swapped = entries.filter(_.getName.startsWith(".staging_")).flatMap { st =>
      val txid = st.getName.stripPrefix(".staging_")
      // per-txid: each txid's commit marker lists only the partitions
      // swapped under THAT txid, and no marker is written for a txid
      // whose staging dir held nothing to swap
      val txSwapped =
        if (fs.exists(new Path(st, "_SUCCESS"))) swapIn(st, txid, "recover") else Nil
      if (txSwapped.nonEmpty)
        writeCommitMarker(txSwapped, -1, -1, txid, recovered = true)
      fs.delete(st, true)
      fs.delete(new Path(s"$path/.trash_$txid"), true)
      txSwapped
    }
    // trash dirs with no staging sibling: their swap completed; just clear
    entries.filter(_.getName.startsWith(".trash_"))
      .foreach(tr => if (fs.exists(tr)) fs.delete(tr, true))
    swapped
  }

  /** Cross-partition atomicity is per-directory only on plain parquet;
    * the commit marker closes the observability gap: it is written LAST,
    * after every partition swap, so a reader that checks
    * `lastCommit.exists(_.partitions == <expected>)` can detect a torn
    * multi-partition upsert (crash between swaps) and retry/alert —
    * the manifest-file shape of a Delta commit, minus the log. */
  private def writeCommitMarker(parts: Seq[String], inserted: Long, updated: Long,
      txid: String, recovered: Boolean = false): Unit = {
    val marker = new Path(s"$path/_graft_commit")
    val tmp = new Path(s"$path/._graft_commit_tmp")
    val payload =
      s"""{"ts":${System.currentTimeMillis()},"txid":"$txid","recovered":$recovered,"partitions":[${
        parts.map(p => "\"" + p + "\"").mkString(",")}],"inserted":$inserted,"updated":$updated}"""
    val out = fs.create(tmp, true)
    out.write(payload.getBytes("UTF-8"))
    out.close()
    if (fs.exists(marker)) fs.delete(marker, false)
    // checked: a false here would leave NO marker while the upsert
    // reports success, hiding the commit from `lastCommit` readers
    if (!fs.rename(tmp, marker))
      throw new java.io.IOException(
        s"commit marker: failed to move $tmp into place at $marker")
  }

  final case class Commit(ts: Long, partitions: Seq[String], inserted: Long, updated: Long,
      recovered: Boolean = false)

  /** The last completed upsert's manifest, if any. `recovered = true`
    * (with counts -1) marks a commit finished by `recover()`, not the
    * original writer. */
  def lastCommit: Option[Commit] = {
    val marker = new Path(s"$path/_graft_commit")
    if (!fs.exists(marker)) return None
    val in = fs.open(marker)
    val raw = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    def longOf(k: String) = s""""$k":(-?\\d+)""".r.findFirstMatchIn(raw).map(_.group(1).toLong)
    val rec = raw.contains("\"recovered\":true")
    // parse the QUOTED fragments, not a split on ',': commas are legal
    // in partition fragments (Spark's escaper leaves them alone), and a
    // split would shear "us,eu" into two bogus partitions — a spurious
    // torn-upsert mismatch for a healthy commit. Quotes cannot appear
    // inside a fragment ('"' IS escaped), so the regex is exact.
    val parts = """"partitions":\[([^\]]*)\]""".r.findFirstMatchIn(raw)
      .map(m => "\"([^\"]*)\"".r.findAllMatchIn(m.group(1))
        .map(_.group(1)).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    for (ts <- longOf("ts"); i <- longOf("inserted"); u <- longOf("updated"))
      yield Commit(ts, parts, i, u, rec)
  }
}
