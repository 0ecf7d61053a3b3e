package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded inputs. The same seed gives the same rows; the program under test
  * only ever sees the files written here. */
object Inputs {

  /** Daily OHLCV bars from the repository's own simulator. */
  def bars(spark: SparkSession, tickers: Seq[String], nBars: Int, seed: Long): DataFrame =
    graft.sources.SyntheticSource.generate(spark, tickers, nBars, seed = seed).toDF()

  /** The `events` table in the family of `ScaleSweep.genEvents` (30 days of
    * click/view/purchase/signup/error events over `nUsers` users, values on
    * a 0.01 grid in [0, 560.21]), with the seed mixed into every hash. */
  def events(spark: SparkSession, n: Long, nUsers: Long, seed: Long): DataFrame = {
    val spanUs = 2592000000000L // 30 days
    val baseUs = 1704067200000000L // 2024-01-01
    val types = typedlit(Seq("click", "view", "purchase", "signup", "error"))
    def h(salt: Int) = hash(col("id"), lit(seed), lit(salt))
    spark.range(n).toDF("id")
      .select(col("id").as("event_id"),
        timestamp_micros(lit(baseUs) + pmod(h(11).cast("long") * 1000003L, lit(spanUs)))
          .as("ts"),
        pmod(h(5), lit(nUsers)).cast("long").as("user_id"),
        element_at(types, pmod(h(7), lit(5)) + 1).as("event_type"),
        (pmod(h(13), lit(56022)) / lit(100.0)).as("value"),
        concat(lit("{\"k\": "), pmod(h(17), lit(100)), lit("}")).as("props"))
  }

  /** The 31-token vocabulary of the sf0.1 `documents` table. */
  private val vocab = Seq("a", "agg", "batch", "big", "column", "customer", "data",
    "dup", "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark", "stream",
    "table", "the", "value", "vector", "window")

  /** `ScaleSweep.genDocuments` over a seed-shuffled vocabulary: the same
    * exact/near duplicate structure, different texts per seed. */
  def documents(spark: SparkSession, n: Long, seed: Long): DataFrame =
    graft.tools.ScaleSweep.genDocuments(spark, n, new scala.util.Random(seed).shuffle(vocab))

  def write(df: DataFrame, path: String, files: Int = 1): Unit =
    df.coalesce(files).write.mode("overwrite")
      .option("compression", "snappy").parquet(path)

  /** Path → size of the regular files below `dir`, skipping hidden and
    * marker files. */
  def files(dir: String): Map[String, Long] = {
    val f = new java.io.File(dir)
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(c => files(c.getPath)).toMap
    else if (f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      Map(f.getPath -> f.length)
    else Map.empty
  }

  def bytesUnder(dir: String): Long = files(dir).values.sum

  def rmTree(path: String): Unit = {
    val f = new java.io.File(path)
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(c => rmTree(c.getPath)))
    f.delete(): Unit
  }
}
