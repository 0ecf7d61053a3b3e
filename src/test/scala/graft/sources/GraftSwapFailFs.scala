package graft.sources

import java.util.concurrent.atomic.{AtomicBoolean, AtomicReference}

/** RawLocalFileSystem under a fake scheme whose rename FAILS (returns
  * false, like a transient HDFS failure) when armed and the source is a
  * staged partition dir being swapped live (`failStagedSwaps`), the
  * incoming dir being renamed to staging (`failIncoming`), the commit
  * marker being moved into place (`failMarker`), or the ETL pipeline's
  * staged `_stage=<name>` dir being published (`failStage` holds the
  * name) — task-commit renames (src under `_temporary`) pass through, so
  * the parquet writes themselves succeed and only the named rename is
  * hit. Register it with `fs.graftswapf.impl` and address paths as
  * `graftswapf://<local path>`. */
class GraftSwapFailFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "graftswapf"
  override def getUri: java.net.URI = java.net.URI.create("graftswapf:///")
  override def rename(src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Boolean = {
    val s = src.toString
    val d = dst.toString
    val hit = !s.contains("_temporary") && (
      GraftSwapFailFs.failStagedSwaps.get() && s.contains("/.staging_") &&
        !d.contains("/.staging_") ||
      GraftSwapFailFs.failIncoming.get() && s.contains("/.incoming_") ||
      GraftSwapFailFs.failMarker.get() && src.getName == "._graft_commit_tmp" ||
      Option(GraftSwapFailFs.failStage.get()).exists(st => src.getName == s"_stage=$st"))
    !hit && super.rename(src, dst)
  }
}
object GraftSwapFailFs {
  val failStagedSwaps = new AtomicBoolean(false)
  val failIncoming = new AtomicBoolean(false)
  val failMarker = new AtomicBoolean(false)
  val failStage = new AtomicReference[String](null)
}
