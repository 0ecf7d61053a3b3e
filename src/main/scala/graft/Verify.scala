package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [onlyCsv] — the optional third arg filters to
    // the named queries for fast local iteration; the driver passes two.
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").map(_.trim).filter(_.nonEmpty).toSet)
      else None
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    var failed = List.empty[String]
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed ::= name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // Loud summary: a per-query failure only on stderr hid a broken query
    // for a whole round (the driver's compare just skips missing dumps).
    System.err.println(
      if (failed.isEmpty) s"[verify] all ${selected.size} queries dumped"
      else s"[verify] ${failed.size} FAILED: ${failed.sorted.mkString(", ")}")
    // ...and a machine-readable one on stdout: round 12's external
    // correctness artifact came back empty with no trace of WHERE the
    // pipeline broke; a parseable dump receipt bounds the search.
    println(s"""{"verify_dumped":${selected.size - failed.size},""" +
      s""""verify_failed":${failed.size},"out":"$outDir"}""")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
