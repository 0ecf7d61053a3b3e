package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Versioned parquet table with a Delta-shaped transaction log — the
  * full-isolation upgrade over [[MergeSink]]'s partition-dir swap (and
  * the Spark answer to the reference's SQLite bars store being both
  * transactional AND queryable mid-write, /root/reference/etl/
  * database_manager.py:1603-1687).
  *
  * Layout:
  * {{{
  *   <root>/data/<partCol>=<v>/<txid>_part-*.parquet   // immutable files
  *   <root>/_graft_log/00000000000000000001.json       // one entry/commit
  * }}}
  *
  * Every commit writes NEW uniquely-named files and records them in a
  * log entry (`adds` + `removes` of relative paths); a snapshot at
  * version V is "all adds minus all removes up to V". Readers resolve
  * the log, never list data dirs — so an in-flight writer is INVISIBLE
  * until its single log-entry create lands, and old versions stay
  * readable (`readAt`) until `vacuum`.
  *
  * Writes stage the way [[MergeSink]] does (`MergeStaging`): the batch
  * is written once under a `.tx_<txid>` dir, and a merge reads only the
  * live files of the partitions that staged listing names. The two
  * tables differ only in how the staged files become live. MergeSink
  * swaps each partition dir in with two renames, so a reader can see a
  * partition missing for an instant and a crash between partitions
  * leaves a torn upsert for `recover()`; here one log entry publishes
  * every partition at once, with no torn window at all.
  *
  * Concurrency is optimistic, file-create-exclusivity as the commit
  * primitive (the HDFS/Delta recipe): a commit tries to create entry
  * N+1 exclusively; on collision it re-reads the winner, and rebases —
  * bumping its version — only when the winner touched DISJOINT
  * partitions, otherwise throws. A reader that hits a torn/in-flight
  * last entry (non-atomic local-FS create) treats the table as at the
  * previous version.
  *
  * Scale: log entries are O(files-touched) JSON lines, the snapshot
  * resolve is a driver-side fold over tiny files, and MERGE reads only
  * the files of TOUCHED partitions (partition values are recorded per
  * file in the log — file-level pruning without listing storage).
  */
object VersionedTable {
  /** Default retention for uncommitted `.tx_*` staging dirs before
    * `vacuum` may reclaim them (a live writer between staging write and
    * commit must not have its dir deleted underneath it). */
  val StagingTtlMs: Long = 24L * 3600 * 1000
}

final class VersionedTable(spark: SparkSession, root: String, partitionCol: String) {

  final case class Add(path: String, part: String)
  final case class Entry(version: Long, txid: String, ts: Long, op: String,
      adds: Seq[Add], removes: Seq[String], inserted: Long, updated: Long)
  final case class MergeStats(version: Long, inserted: Long, updated: Long, partitions: Long)

  private val logDir = s"$root/_graft_log"
  private val dataDir = s"$root/data"

  private def fs = new Path(root)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  // ---- log encoding (no JSON lib in the offline env; fields are flat) ----

  private def encode(e: Entry): String = {
    val adds = e.adds.map(a => s"""{"path":"${a.path}","part":"${a.part}"}""")
      .mkString("[", ",", "]")
    val removes = e.removes.map(r => "\"" + r + "\"").mkString("[", ",", "]")
    s"""{"version":${e.version},"txid":"${e.txid}","ts":${e.ts},"op":"${e.op}",""" +
      s""""adds":$adds,"removes":$removes,"inserted":${e.inserted},"updated":${e.updated}}"""
  }

  private def decode(raw: String): Option[Entry] = {
    def longOf(k: String) = s""""$k":(-?\\d+)""".r.findFirstMatchIn(raw).map(_.group(1).toLong)
    def strOf(k: String) = s""""$k":"([^"]*)"""".r.findFirstMatchIn(raw).map(_.group(1))
    val adds = """\{"path":"([^"]+)","part":"([^"]*)"\}""".r.findAllMatchIn(raw)
      .map(m => Add(m.group(1), m.group(2))).toSeq
    // parse the QUOTED strings, not a split on ',': commas are legal in
    // partition fragments (Spark's escaper leaves them unescaped), and a
    // split would shear "data/p=us,eu/f.parquet" into two bogus paths —
    // neither matching the live map, so the stale file stays live and
    // every later read returns duplicates. Quotes can never appear
    // inside a path ('"' IS in the escaper's set), so the regex is exact.
    val removes = """"removes":\[([^\]]*)\]""".r.findFirstMatchIn(raw)
      .map(m => "\"([^\"]*)\"".r.findAllMatchIn(m.group(1))
        .map(_.group(1)).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    for {
      v <- longOf("version"); tx <- strOf("txid"); ts <- longOf("ts")
      op <- strOf("op"); ins <- longOf("inserted"); upd <- longOf("updated")
    } yield Entry(v, tx, ts, op, adds, removes, ins, upd)
  }

  private def entryPath(v: Long) = new Path(logDir, f"$v%020d.json")
  private def checkpointPath(v: Long) = new Path(logDir, f"$v%020d.checkpoint.json")

  // Committed entries are IMMUTABLE once fully written, so a successful
  // decode is cacheable forever — torn/absent reads are never cached
  // (they may complete later), and external writers only ever ADD
  // entries (which miss the cache and are read fresh). This is what
  // keeps a maintenance session's per-fold log probes O(1) FS reads
  // instead of re-reading every entry since the last checkpoint.
  private val entryCache = scala.collection.concurrent.TrieMap.empty[Long, Entry]

  private def readEntry(v: Long): Option[Entry] = {
    entryCache.get(v).orElse {
      val p = entryPath(v)
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        val raw = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
        val e = decode(raw) // None = torn in-flight write; caller treats as absent
        e.foreach(entryCache.update(v, _))
        e
      }
    }
  }

  /** Committed entry version numbers in ascending order (checkpoint
    * files do not parse as versions and so are excluded for free). */
  private def versionList(): Seq[Long] = {
    if (!fs.exists(new Path(logDir))) return Seq.empty
    fs.listStatus(new Path(logDir)).toSeq
      .map(_.getPath.getName).filter(_.endsWith(".json"))
      .flatMap(n => scala.util.Try(n.stripSuffix(".json").toLong).toOption)
      .sorted
  }

  /** All committed entries in version order (torn tail skipped). */
  def history(): Seq[Entry] = versionList().flatMap(readEntry)

  /** Latest committed version — scans file names, reads entries from the
    * newest down only until one decodes (a torn in-flight tail is
    * skipped), so it stays O(1) entry reads on a long log. */
  def latestVersion: Long =
    versionList().reverseIterator.flatMap(readEntry).map(_.version)
      .nextOption().getOrElse(0L)

  /** Write a checkpoint of the live file set at the latest version:
    * snapshot resolution then starts from it instead of folding the
    * whole log — the Delta checkpoint move. A streaming sink commits one
    * entry per micro-batch, so without this every reader/committer walk
    * is O(total commits); with it, O(commits since last checkpoint).
    * Entries stay on disk (full history/time travel unaffected).
    * Returns the checkpointed version (0 on an empty table). */
  def checkpoint(): Long = {
    val v = latestVersion
    if (v == 0L) return 0L
    // A torn IN-FLIGHT entry below v is skipped by the snapshot fold and
    // self-heals on the next full-log resolve once its write completes —
    // but a checkpoint written while it is torn would freeze the skip
    // forever (post-checkpoint resolves never replay it). Only
    // checkpoint when every entry up to v decodes; otherwise do nothing
    // and let a later call succeed.
    val vs = versionList().filter(_ <= v)
    val entries = vs.flatMap(readEntry)
    if (entries.size != vs.size) return 0L
    val live = scala.collection.mutable.LinkedHashMap.empty[String, String]
    entries.foreach { e =>
      e.removes.foreach(live.remove)
      e.adds.foreach(a => live(a.path) = a.part)
    }
    val sorted = live.toSeq.sortBy(_._1)
    val body = sorted
      .map { case (p, part) => s"""{"path":"$p","part":"$part"}""" }
      .mkString("[", ",", "]")
    // unique tmp per call: two concurrent checkpoints at the same version
    // must not share a tmp file (one would publish the other's partial
    // write); their final content is identical, so the rename race is
    // harmless. The file count makes truncation detectable on read.
    val tmp = new Path(logDir,
      s".ckp_${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    val out = fs.create(tmp, true)
    out.write(s"""{"version":$v,"n":${sorted.size},"files":$body}""".getBytes("UTF-8"))
    out.close()
    fs.rename(tmp, checkpointPath(v))
    v
  }

  /** Newest VALID checkpoint at or before `v`, if any (a checkpoint whose
    * parsed file count disagrees with its `n` header — a torn write — is
    * ignored, falling back to the next older one). */
  private def latestCheckpointAtOrBefore(v: Long): Option[(Long, Map[String, String])] = {
    if (!fs.exists(new Path(logDir))) return None
    val cvs = fs.listStatus(new Path(logDir)).toSeq
      .map(_.getPath.getName).filter(_.endsWith(".checkpoint.json"))
      .flatMap(n => scala.util.Try(n.stripSuffix(".checkpoint.json").toLong).toOption)
      .filter(_ <= v)
      .sorted(Ordering[Long].reverse)
    cvs.iterator.flatMap { cv =>
      // guarded read: a concurrent vacuum may delete a superseded
      // checkpoint between our listing and the open — skip and fall back
      // to an older checkpoint (or the full log fold), like readEntry
      // tolerates torn entries
      scala.util.Try {
        val in = fs.open(checkpointPath(cv))
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      }.toOption.flatMap { raw =>
        val declared = """"n":(\d+)""".r.findFirstMatchIn(raw).map(_.group(1).toInt)
        val files = """\{"path":"([^"]+)","part":"([^"]*)"\}""".r.findAllMatchIn(raw)
          .map(m => m.group(1) -> m.group(2)).toMap
        if (declared.contains(files.size)) Some(cv -> files) else None
      }
    }.nextOption()
  }

  /** Live (path → partition value) file set at version `v`, resolved
    * from the newest checkpoint ≤ v plus only the entries after it. */
  private def snapshotFiles(v: Long): Map[String, String] = {
    val (startV, init) = latestCheckpointAtOrBefore(v).getOrElse(0L -> Map.empty[String, String])
    val live = scala.collection.mutable.LinkedHashMap(init.toSeq: _*)
    versionList().filter(ver => ver > startV && ver <= v).flatMap(readEntry).foreach { e =>
      e.removes.foreach(live.remove)
      e.adds.foreach(a => live(a.path) = a.part)
    }
    live.toMap
  }

  /** Snapshot read at a version (default: latest). Partition-column
    * values are re-inferred from the `<partCol>=<v>` dirs via basePath,
    * so the snapshot has the same schema a plain parquet read would.
    * An EMPTY snapshot (new table, nothing committed) has no parquet
    * footer to infer from and returns a ZERO-COLUMN DataFrame — callers
    * that reference columns before the first commit must guard on
    * `latestVersion > 0` (there is no schema registry to conjure one). */
  def readAt(version: Long = Long.MaxValue): DataFrame = {
    val v = math.min(version, latestVersion)
    val files = snapshotFiles(v).keys.toSeq.sorted.map(p => s"$root/$p")
    if (files.isEmpty)
      return spark.emptyDataFrame
    spark.read.option("basePath", dataDir).parquet(files: _*)
  }

  def read(): DataFrame = readAt()

  // ---- commits ----

  /** A fresh transaction id and its `.tx_<txid>` staging dir (the prefix
    * vacuum's TTL sweep reclaims when a writer crashed before commit). */
  private def newTx(): (String, Path) = {
    val txid = java.util.UUID.randomUUID().toString.take(8)
    (txid, new Path(s"$root/.tx_$txid"))
  }

  /** Move the staged `partitionBy` output into stable per-partition dirs
    * with txid-unique names; returns the adds. Each rename is CHECKED: a
    * swallowed false would log an add whose file is not there. */
  private def absorbStaging(staging: Path, txid: String): Seq[Add] = {
    val adds = MergeStaging.partDirs(fs, staging, partitionCol).flatMap { partDir =>
      val part = partDir.getName.stripPrefix(s"$partitionCol=")
      val dest = new Path(s"$dataDir/${partDir.getName}")
      fs.mkdirs(dest)
      fs.listStatus(partDir).toSeq.filter(_.isFile).map(_.getPath)
        .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
        .map { f =>
          val name = s"${txid}_${f.getName}"
          if (!fs.rename(f, new Path(dest, name)))
            throw new java.io.IOException(s"absorb: failed to move staged $f into $dest")
          Add(s"data/${partDir.getName}/$name", part)
        }
    }
    fs.delete(staging, true)
    adds
  }

  /** Test seam: `VersionedTableStressSpec` swaps the entry-publish
    * strategy here to pin BOTH sides of the commit-atomicity contract —
    * the committed negative control re-installs the pre-r17
    * create→window→write shape and proves the tight torn-entry reader
    * CATCHES it (so the green atomic run is evidence, not vacuity).
    * Production never sets this. */
  private[sources] var publishOverride: Option[(Path, Array[Byte]) => Boolean] = None

  /** Memoized capability flags: the link(2) / rename probe outcome is a
    * property of the MOUNT, not of one commit — without the memo an
    * NFS/FUSE 'file'-scheme mount would re-pay the failed createLink
    * (temp write + exception) on EVERY commit and rebase attempt
    * forever. Flipped at most once, on the first classified
    * unsupported-operation failure; `@volatile` because commits race
    * from writer threads. */
  @volatile private[sources] var linkSupported = true
  @volatile private[sources] var renameSupported = true

  /** Does this exception mean "the filesystem cannot hard-link" (degrade
    * to the exclusive-create path) as opposed to a genuine I/O failure
    * that must PROPAGATE (AccessDenied, quota, disk error)? Narrow by
    * construction: UnsupportedOperationException, or a FileSystemException
    * whose reason is the no-link errno family — EPERM ("Operation not
    * permitted": filesystems that forbid links), ENOTSUP/EOPNOTSUPP
    * ("Operation not supported"), ENOSYS ("Function not implemented"),
    * EXDEV ("Invalid cross-device link"). Anything else (ENOSPC, EDQUOT,
    * EACCES, EROFS…) is a real failure the old blanket catch used to
    * swallow into a misleading lost-race false. */
  private[sources] def linkUnsupported(e: Throwable): Boolean = e match {
    case _: UnsupportedOperationException => true
    case fse: java.nio.file.FileSystemException =>
      val reason = Option(fse.getReason).getOrElse("").toLowerCase
      reason.contains("not permitted") || reason.contains("not supported") ||
        reason.contains("not implemented") ||
        reason.contains("cross-device link")
    case _ => false
  }

  /** Locale-independent second chance for [[linkUnsupported]]'s English
    * strerror match (a non-English JVM locale gets localized reasons the
    * text classifier cannot read): ONE memoized probe — write a tiny
    * hidden temp in the log dir and try to hard-link it. Probe link
    * succeeds → the mount links fine, so an unclassified createLink
    * failure was a genuine I/O error and must propagate. Probe link
    * fails → the mount cannot link, whatever language it said it in —
    * degrade. A probe that cannot even WRITE its temp reports true
    * ("links may work") so the original failure propagates: never
    * degrade on evidence of a sick disk. */
  @volatile private[sources] var linkProbe: Option[Boolean] = None
  private[sources] def linkProbeSucceeds(): Boolean = linkProbe.getOrElse {
    val outcome =
      try {
        val dir = java.nio.file.Paths.get(new Path(logDir).toUri.getPath)
        java.nio.file.Files.createDirectories(dir)
        val src = dir.resolve(
          s".pre_probe_${java.util.UUID.randomUUID().toString.take(8)}")
        val dst = dir.resolve(s"${src.getFileName}.lnk")
        try {
          java.nio.file.Files.write(src, Array[Byte]('p'))
          try { java.nio.file.Files.createLink(dst, src); true }
          catch { case _: Exception => false }
        } finally {
          java.nio.file.Files.deleteIfExists(dst): Unit
          java.nio.file.Files.deleteIfExists(src): Unit
        }
      } catch { case _: Exception => true }
    linkProbe = Some(outcome)
    outcome
  }

  /** Last-resort publish: exclusive create + write + close. Reached only
    * on mounts with neither link(2) ('file'-scheme NFS/SMB/FUSE, some
    * container overlays) nor a usable atomic rename. Here "entry exists"
    * does NOT imply "entry fully readable" — the create→close torn
    * window is real — so commit()'s bounded torn-entry poll remains the
    * documented mitigation. Returns false ONLY on the lost-race signal
    * (destination already exists); any other create failure propagates —
    * a blanket false here made commit() misread quota/permission errors
    * as version races (a ~50 s rebase loop ending in a misleading
    * retry-budget error). */
  private[sources] def publishViaCreate(p: Path, bytes: Array[Byte]): Boolean = {
    val out =
      try fs.create(p, false)
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => return false
        case _: java.nio.file.FileAlreadyExistsException => return false
        case e: java.io.IOException =>
          // some FileSystem impls surface EEXIST as a bare IOException;
          // arbitrate on the destination, not the exception type
          if (fs.exists(p)) return false else throw e
      }
    // The exclusive create succeeded: the destination is OURS. A
    // write/close failure past this point is our own torn file, not a
    // lost race — delete the remnant (best effort) and PROPAGATE.
    // Returning false here would send commit() polling our own torn
    // entry and misreport the real I/O error (ENOSPC mid-write, a died
    // pipeline) as a version conflict, and the remnant would poison
    // every later commit at this version until manual cleanup.
    var ok = false
    try { out.write(bytes); out.close(); ok = true; true }
    finally if (!ok) {
      try out.close() catch { case _: Exception => () }
      try { fs.delete(p, false); () } catch { case _: Exception => () }
    }
  }

  /** Non-local publish: write the COMPLETE entry bytes to a hidden temp
    * file in the log dir, then `rename` into place. On the production
    * non-local filesystem class (HDFS and kin) rename is atomic and
    * FAILS onto an existing destination, so this keeps exclusive-create
    * arbitration while closing the torn window publishViaCreate has: an
    * entry file that exists is always fully readable, and commit()'s
    * bounded torn-entry poll is dead code on this path. Requires the
    * HDFS rename contract (atomic, no-overwrite); 'file'-scheme mounts
    * never come here (POSIX rename REPLACES an existing destination,
    * which would destroy the winner's entry — they take
    * [[publishViaLink]]), and object stores without atomic rename need
    * their own committer, not this table. Temp files use the `.pre_`
    * prefix so vacuum's TTL sweep reclaims a crashed writer's leftovers. */
  private[sources] def publishViaRename(p: Path, bytes: Array[Byte]): Boolean = {
    val tmp = new Path(logDir,
      s".pre_${java.util.UUID.randomUUID().toString.take(8)}.json")
    try {
      val out = fs.create(tmp, true)
      var closed = false
      try { out.write(bytes); out.close(); closed = true }
      finally if (!closed) {
        // never leak the stream (on HDFS: the file lease and its
        // pipeline threads) when the temp write itself fails
        try out.close() catch { case _: Exception => () }
      }
      try {
        if (fs.rename(tmp, p)) true
        // rename-to-existing returns false on the HDFS contract — the
        // lost-race signal. A false WITHOUT a destination is a real
        // rename failure (permissions, missing log dir): propagate it
        // rather than let commit() misread it as an endless version race.
        else if (fs.exists(p)) false
        else throw new java.io.IOException(
          s"rename $tmp -> $p failed without a destination conflict")
      } catch {
        // impls that surface the no-overwrite conflict as a THROW
        // rather than a false (the Options.Rename contract several
        // non-HDFS Hadoop filesystems route through): same lost-race
        // signal, same rebase
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        case _: java.nio.file.FileAlreadyExistsException => false
        case e: UnsupportedOperationException =>
          renameSupported = false
          System.err.println(s"[versioned-table] rename unsupported on " +
            s"scheme '${fs.getScheme}' ($e); degrading to exclusive-create " +
            "publish for this table instance")
          publishViaCreate(p, bytes)
      }
    } finally {
      // delete of a missing path returns false without throwing — no
      // exists() pre-check RPC on the common (rename moved it) path
      try { fs.delete(tmp, false); () } catch { case _: Exception => () }
    }
  }

  /** Local-FS publish: the bytes go to a unique hidden temp file (fully
    * written and closed) that is then HARD-LINKED into place — link(2)
    * is atomic and fails when the destination exists, so
    * exclusive-create arbitration is preserved AND an entry file that
    * exists is always fully readable; a commit loser can never observe
    * a torn winner. (The r16 flake mechanism, pinned by
    * VersionedTableStressSpec: with create(false)+write+close the winner
    * could be descheduled between create and close under full-suite
    * load — 32 executor threads + GC — so "entry exists" did not imply
    * "entry readable", and the loser's bounded torn-entry poll in
    * commit() expired into a spurious ConcurrentModificationException
    * about once in three full-suite runs.) */
  private def publishViaLink(p: Path, bytes: Array[Byte]): Boolean = {
    val dir = java.nio.file.Paths.get(new Path(logDir).toUri.getPath)
    java.nio.file.Files.createDirectories(dir)
    val tmp = dir.resolve(
      s".pre_${java.util.UUID.randomUUID().toString.take(8)}.json")
    java.nio.file.Files.write(tmp, bytes)
    try {
      java.nio.file.Files.createLink(
        java.nio.file.Paths.get(p.toUri.getPath), tmp)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
      // a 'file'-scheme mount without link(2) support: degrade to the
      // legacy exclusive-create path instead of failing every commit —
      // but ONLY for the classified no-link errno family. EEXIST (the
      // lost-race signal) is handled above; a genuine I/O failure
      // (AccessDenied, quota/ENOSPC as FileSystemException) must
      // propagate, not be laundered into a lost-race false that commit()
      // turns into a misleading conflict/retry-budget error. The memo
      // makes the degradation one-time per instance, not per commit.
      case e: Throwable if linkUnsupported(e) =>
        linkSupported = false
        System.err.println(s"[versioned-table] hard-link unsupported on " +
          s"this mount ($e); degrading to exclusive-create publish for " +
          "this table instance")
        publishViaCreate(p, bytes)
      // a FileSystemException whose reason the English-text classifier
      // cannot read (localized strerror): let the memoized probe settle
      // whether this mount can link at all — degrade only when it
      // cannot, otherwise the failure is genuine I/O and propagates
      case e: java.nio.file.FileSystemException if !linkProbeSucceeds() =>
        linkSupported = false
        System.err.println(s"[versioned-table] hard-link probe failed on " +
          s"this mount (original: $e); degrading to exclusive-create " +
          "publish for this table instance")
        publishViaCreate(p, bytes)
    } finally {
      java.nio.file.Files.deleteIfExists(tmp): Unit
    }
  }

  /** Atomically publish a COMPLETE log entry at `p`; returns false when
    * the version is already taken. Local FS → [[publishViaLink]] (no
    * torn window at all); everything else (HDFS) → [[publishViaRename]]
    * (temp + atomic no-overwrite rename — also torn-window-free).
    * [[publishViaCreate]] is the memoized last resort for mounts with
    * neither primitive; only there does commit()'s bounded poll still
    * earn its keep. */
  private def publishEntry(p: Path, bytes: Array[Byte]): Boolean =
    publishOverride match {
      case Some(publish) => publish(p, bytes)
      case None =>
        if (fs.getScheme == "file")
          if (linkSupported) publishViaLink(p, bytes)
          else publishViaCreate(p, bytes)
        else if (renameSupported) publishViaRename(p, bytes)
        else publishViaCreate(p, bytes)
    }

  /** Exclusive-create commit with disjoint-partition rebase. Returns the
    * committed version. */
  private def commit(e: Entry): Long = {
    var entry = e
    var attempts = 0
    while (attempts < 50) {
      val p = entryPath(entry.version)
      val created = publishEntry(p, encode(entry).getBytes("UTF-8"))
      if (created) return entry.version
      // lost the race: the winner holds our version. A blind APPEND can
      // always rebase (it removes nothing and read nothing). A MERGE
      // rebases only past winners that touched DISJOINT partitions —
      // a winner in our partitions means our merge read a stale
      // snapshot of exactly the rows it rewrote.
      //
      // On the local FS publishEntry is atomic (hard-linked complete
      // bytes) and on HDFS-class filesystems likewise (temp + atomic
      // rename), so on both production paths a torn read here can only
      // be a crashed writer's remnant or a foreign/pre-protocol file —
      // not a live in-flight winner, and this poll never waits. Only the
      // memoized create LAST RESORT (no link(2), no usable rename)
      // retains the create+write window this poll mitigates; a writer
      // that died mid-write keeps the entry torn past the budget and
      // lands in the conservative throw either way.
      val winner = {
        var w = readEntry(entry.version)
        var waited = 0
        while (w.isEmpty && waited < 100) {
          Thread.sleep(10); waited += 1
          w = readEntry(entry.version)
        }
        w
      }
      if (entry.op == "overwrite") {
        // Full-snapshot replace: a disjoint-partition rebase would let the
        // winner's rows survive the "replace everything" — instead rebase
        // by recomputing removes against the winner's snapshot, so the
        // committed version still contains exactly df's rows.
        if (winner.isEmpty)
          throw new java.util.ConcurrentModificationException(
            s"version ${entry.version} has a torn concurrent entry; cannot overwrite past it")
        entry = entry.copy(version = entry.version + 1,
          removes = snapshotFiles(entry.version).keys.toSeq)
        attempts += 1
      } else {
        val ourParts = entry.adds.map(_.part).toSet
        val winnerParts = winner.map(w => w.adds.map(_.part).toSet).getOrElse(Set.empty)
        val conflict = entry.op != "append" &&
          (winner.isEmpty || ourParts.intersect(winnerParts).nonEmpty ||
            winner.exists(_.removes.exists(entry.removes.contains)))
        if (conflict)
          throw new java.util.ConcurrentModificationException(
            s"version ${entry.version} committed concurrently over the same partitions")
        entry = entry.copy(version = entry.version + 1)
        attempts += 1
      }
    }
    throw new IllegalStateException("commit retry budget exhausted")
  }

  /** [[commit]] for entries whose adds were just absorbed from OUR OWN
    * staged write: a failed commit (merge conflict, retry budget) leaves
    * those files in `data/` referenced by NO log entry — vacuum's doomed
    * set is `everAdded -- live`, so an un-logged orphan is invisible to
    * it forever, and a streaming writer hitting repeated conflicts leaks
    * unbounded dead parquet. Best-effort delete the absorbed files
    * before rethrowing. NOT for [[importFrom]]: its adds are the
    * caller's MOVED source files — deleting them on failure would
    * destroy data we don't own. */
  private def commitOrClean(e: Entry): Long =
    try commit(e)
    catch {
      case t: Throwable =>
        e.adds.foreach(a =>
          try { fs.delete(new Path(s"$root/${a.path}"), false); () }
          catch { case _: Exception => () })
        throw t
    }

  /** Blind append (new files only; no reads, conflicts never possible
    * beyond version bumping). */
  def append(df: DataFrame): Long = {
    val (txid, staging) = newTx()
    // the `inserted` stat rides the staged write as an Observation (as in
    // MergeStaging.stage) — the old read-back count re-scanned the
    // freshly written staging files in a second job on every streaming
    // micro-batch, pure doubled I/O on the hot path
    val obs = org.apache.spark.sql.Observation()
    df.observe(obs, count(lit(1)).as("n"))
      .write.partitionBy(partitionCol).parquet(staging.toString)
    val n = obs.get("n").asInstanceOf[Long]
    val adds = absorbStaging(staging, txid)
    commitOrClean(Entry(latestVersion + 1, txid, System.currentTimeMillis(), "append",
      adds, Seq.empty, inserted = n, updated = 0))
  }

  /** Migrate a [[MergeSink]]-layout partitioned parquet table (live
    * `<partCol>=<v>` dirs under `sinkDir`) into THIS empty table as ONE
    * append commit: files are MOVED (rename, no rewrite) into the
    * versioned layout and recorded in the log. Run `MergeSink.recover()`
    * on the source first — the source must have no writer in flight —
    * and read through this table afterwards (the old path keeps only
    * sink-side markers). Returns the committed version (1). */
  def importFrom(sinkDir: String): Long = {
    require(latestVersion == 0L, "importFrom requires an empty versioned table")
    val src = new Path(sinkDir)
    require(fs.exists(src), s"no such dir: $sinkDir")
    val txid = java.util.UUID.randomUUID().toString.take(8)
    MergeStaging.partDirs(fs, src, partitionCol).foreach { partDir =>
      val dest = new Path(s"$dataDir/${partDir.getName}")
      fs.mkdirs(dest)
      fs.listStatus(partDir).filter(_.isFile).map(_.getPath)
        .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
        .foreach(f => fs.rename(f, new Path(dest, s"${txid}_${f.getName}")))
      // recursive: listStatus hides .crc checksum siblings, which would
      // fail a non-recursive delete of the "empty" dir
      if (fs.listStatus(partDir).isEmpty) fs.delete(partDir, true)
    }
    // Crash-safe resume: the adds (and the row count) come from a sweep of
    // data/ AFTER the moves, not from a pre-move plan — the log is empty,
    // so every file under data/ belongs to this import or to a previous
    // CRASHED one, and both must land in the single commit (a pre-move
    // count would silently drop the files a crashed run already moved).
    val adds = scala.collection.mutable.ArrayBuffer.empty[Add]
    if (fs.exists(new Path(dataDir))) {
      MergeStaging.partDirs(fs, new Path(dataDir), partitionCol).foreach { partDir =>
        val part = partDir.getName.stripPrefix(s"$partitionCol=")
        fs.listStatus(partDir).filter(_.isFile).map(_.getPath)
          .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
          .foreach(f => adds += Add(s"data/${partDir.getName}/${f.getName}", part))
      }
    }
    val n =
      if (adds.isEmpty) 0L
      else spark.read.option("basePath", dataDir)
        .parquet(adds.map(a => s"$root/${a.path}").sorted.toSeq: _*).count()
    commit(Entry(1L, txid, System.currentTimeMillis(), "append",
      adds.toSeq, Seq.empty, inserted = n, updated = 0))
  }

  /** Full-snapshot replace: the new version's adds are `df`'s files and
    * its removes are EVERYTHING previously live — readers at older
    * versions keep their snapshot until vacuum. The natural op for
    * per-run stage outputs (each pipeline run = one version). */
  def overwrite(df: DataFrame): Long = {
    val (_, staging) = newTx()
    // count rides the staged write as an Observation — no read-back job
    val obs = org.apache.spark.sql.Observation()
    df.observe(obs, count(lit(1)).as("n"))
      .write.partitionBy(partitionCol).parquet(staging.toString)
    commitOverwrite(staging, obs.get("n").asInstanceOf[Long])
  }

  /** [[overwrite]]'s commit of an already-staged `partitionBy` output:
    * its `<partCol>=` dirs (none: an empty snapshot) become the new
    * snapshot, of `inserted` rows. `staged` must exist. */
  private[graft] def commitOverwrite(staged: Path, inserted: Long): Long = {
    val (txid, _) = newTx()
    val baseV = latestVersion
    val removes = snapshotFiles(baseV).keys.toSeq
    val adds = absorbStaging(staged, txid)
    commitOrClean(Entry(baseV + 1, txid, System.currentTimeMillis(), "overwrite",
      adds, removes, inserted, updated = 0))
  }

  /** MERGE upsert (update-wins by `versionCol` within the batch, like
    * [[MergeSink.upsert]]). The batch is staged first, in one job with
    * its row count observed (MergeStaging.stage): its listed partition
    * dirs name the touched partitions in the log's own fragment space
    * (escaped, with the Hive null sentinel). A batch that touches no
    * live file is absorbed as staged; otherwise only the touched
    * partitions' live files are read, merged with the staged batch into
    * a second staging dir, and replaced in one entry (adds + removes).
    * An empty batch is a no-op, NOT an empty commit (streaming
    * foreachBatch fires empty micro-batches; versions track data
    * changes, not trigger ticks). Nothing is cached.
    *
    * `assumeUniqueKeys`: the caller asserts `updates` already holds at
    * most one row per key, skipping the dedupe window (a shuffle + sort
    * per merge — pure overhead for producers like IncrementalCC whose
    * delta is unique by construction). Violating the assertion makes
    * the merged partition hold duplicate keys — only set it when the
    * producer proves uniqueness (a spec-checked invariant, not a
    * convenience flag). */
  def upsert(updates: DataFrame, keyCols: Seq[String],
      versionCol: Option[String] = None,
      assumeUniqueKeys: Boolean = false): MergeStats = {
    require(keyCols.nonEmpty && !keyCols.contains(partitionCol))
    val batch = MergeStaging.dedupe(updates, keyCols, versionCol, assumeUniqueKeys)
    val (txid, staged) = newTx()
    val (batchTotal, parts) = MergeStaging.stage(fs, batch, partitionCol, staged)
    if (parts.isEmpty) {
      fs.delete(staged, true)
      return MergeStats(latestVersion, 0, 0, 0)
    }
    val touched = parts.map(_.getName.stripPrefix(s"$partitionCol=")).toSet
    val baseV = latestVersion
    val touchedFiles = snapshotFiles(baseV)
      .collect { case (p, part) if touched(part) => p }.toSeq
    val (absorbed, (inserted, updated)) =
      if (touchedFiles.isEmpty) (staged, (batchTotal, 0L))
      else {
        val (_, merged) = newTx()
        val stats = MergeStaging.mergeStaged(batch, staged, parts,
          touchedFiles.sorted.map(p => s"$root/$p"), dataDir, keyCols, partitionCol,
          batchTotal, merged)
        fs.delete(staged, true)
        (merged, stats)
      }
    val adds = absorbStaging(absorbed, txid)
    val v = commitOrClean(Entry(baseV + 1, txid, System.currentTimeMillis(),
      "merge", adds, touchedFiles, inserted, updated))
    MergeStats(v, inserted, updated, adds.map(_.part).distinct.length.toLong)
  }

  /** Compaction (the OPTIMIZE op): rewrite each partition's live file
    * set into `targetFiles` file(s), committed as one new version
    * (adds = compacted files, removes = the fragments). Content is
    * unchanged — only layout. The small-files answer for streaming
    * sinks, where every micro-batch adds a file per touched partition;
    * run it periodically, then `vacuum` to reclaim the fragments.
    * Compacts only partitions currently holding more than `minFiles`
    * fragments; returns the committed version (or the current one when
    * nothing qualified). */
  def compact(minFiles: Int = 2, targetFiles: Int = 1): Long = {
    val baseV = latestVersion
    val byPart = snapshotFiles(baseV).toSeq.groupBy(_._2)
    val doomedParts = byPart.filter(_._2.size > minFiles)
    if (doomedParts.isEmpty) return baseV
    val paths = doomedParts.values.flatten.map { case (p, _) => s"$root/$p" }.toSeq
    val df = spark.read.option("basePath", dataDir).parquet(paths.sorted: _*)
      .coalesce(math.max(1, targetFiles))
    val (txid, staging) = newTx()
    df.write.partitionBy(partitionCol).parquet(staging.toString)
    val adds = absorbStaging(staging, txid)
    val removes = doomedParts.values.flatten.map(_._1).toSeq
    commitOrClean(Entry(baseV + 1, txid, System.currentTimeMillis(), "compact",
      adds, removes, inserted = 0, updated = 0))
  }

  /** Delete data files no snapshot newer than `keepLast` versions back
    * references, and orphaned `.tx_*` staging dirs. Time travel older
    * than the horizon stops working (entries stay for history). */
  def vacuum(keepLast: Int = 1,
      stagingTtlMs: Long = VersionedTable.StagingTtlMs): Seq[String] = {
    val entries = history()
    if (entries.isEmpty) return Seq.empty
    val horizon = entries.last.version - math.max(keepLast, 0)
    val liveAtOrAfter = (horizon to entries.last.version)
      .flatMap(v => snapshotFiles(v).keys).toSet
    // everAdded must span ALL entries — the doomed set is a subtraction,
    // so any horizon bound here would turn missed files into leaks
    val everAdded = entries.flatMap(_.adds.map(_.path)).toSet
    val doomed = (everAdded -- liveAtOrAfter).toSeq.sorted
    doomed.foreach(p => fs.delete(new Path(s"$root/$p"), false))
    // Superseded checkpoints: older checkpoints stay CORRECT as fold
    // starting points (later entries' removes cover their stale paths),
    // but only the newest one is ever chosen — drop the rest.
    if (fs.exists(new Path(logDir))) {
      val cvs = fs.listStatus(new Path(logDir)).toSeq
        .map(_.getPath.getName).filter(_.endsWith(".checkpoint.json"))
        .flatMap(n => scala.util.Try(n.stripSuffix(".checkpoint.json").toLong).toOption)
        .sorted
      cvs.dropRight(1).foreach(cv => fs.delete(checkpointPath(cv), false))
    }
    // Staging dirs with no committed txid are abandoned writers — but a
    // LIVE writer between staging write and commit looks identical, so
    // (as Delta does with its retention window) only reclaim dirs whose
    // last modification is older than the TTL.
    val committedTx = entries.map(_.txid).toSet
    val cutoff = System.currentTimeMillis() - math.max(stagingTtlMs, 0L)
    if (fs.exists(new Path(root))) {
      fs.listStatus(new Path(root))
        .filter(st => st.getPath.getName.startsWith(".tx_") &&
          !committedTx(st.getPath.getName.stripPrefix(".tx_")) &&
          st.getModificationTime < cutoff)
        .foreach(st => fs.delete(st.getPath, true))
    }
    // publishEntry temp files are deleted in-line; one left behind means
    // a writer crashed between write and link — same TTL discipline
    if (fs.exists(new Path(logDir))) {
      fs.listStatus(new Path(logDir))
        .filter(st => st.getPath.getName.startsWith(".pre_") &&
          st.getModificationTime < cutoff)
        .foreach(st => fs.delete(st.getPath, false))
    }
    doomed
  }
}
