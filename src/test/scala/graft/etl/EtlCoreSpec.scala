package graft.etl

import java.sql.Timestamp
import java.time.LocalDate

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.sources.SyntheticSource

class EtlCoreSpec extends AnyFunSuite with TestSpark {
  import org.apache.spark.sql.DataFrame

  private lazy val bars: DataFrame = SyntheticSource
    .generate(spark, Seq("AAPL", "MSFT", "GOOG"), nBars = 300, seed = 7).toDF()
    .cache()

  test("synthetic source is deterministic and well-formed") {
    val again = SyntheticSource
      .generate(spark, Seq("AAPL", "MSFT", "GOOG"), nBars = 300, seed = 7).toDF()
    assert(bars.count() === 900)
    assert(bars.except(again).isEmpty && again.except(bars).isEmpty)
    val bad = bars.where(col("low") > col("high") || col("close") <= 0 ||
      col("volume") < 0).count()
    assert(bad === 0)
    // different seed differs
    val other = SyntheticSource.generate(spark, Seq("AAPL"), 300, seed = 8).toDF()
    assert(other.except(bars).count() > 0)
  }

  test("standardizer renames provider columns and normalizes tickers") {
    val raw = spark.createDataFrame(Seq(
      (" aapl ", "2024-01-01", 1.0, 2.0, 0.5, 1.5, 100L)))
      .toDF("Symbol", "Datetime", "O", "H", "L", "C", "Vol")
    val std = Standardize(raw)
    assert(std.columns.toSet ==
      Set("ticker", "date", "open", "high", "low", "close", "volume"))
    assert(std.head().getAs[String]("ticker") === "AAPL")
    val noClose = raw.drop("C")
    intercept[IllegalArgumentException](Standardize(noClose))
  }

  test("validator passes clean frames and fails planted corruption") {
    assert(Validator.validate(bars).status === "PASS")
    val corrupt = bars.withColumn("close",
      when(col("ticker") === "AAPL" && dayofmonth(col("date")) === 3, lit(-1.0))
        .otherwise(col("close")))
    val rep = Validator.validate(corrupt)
    assert(rep.status === "FAIL" && rep.nNonPositivePrices > 0)
    val dup = bars.union(bars.limit(5))
    assert(Validator.validate(dup).nDuplicateKeys > 0)
    // HLL profiling mode: same verdicts, sketched cardinality (~2% rsd —
    // exact at this tiny scale)
    val hll = Validator.validate(bars, exactDistinct = false)
    assert(hll.status === "PASS" && hll.nTickers === Validator.validate(bars).nTickers)
  }

  test("classification routes PASS/WARN/FAIL to production/research; enums quarantine") {
    val pass = Validator.validate(bars)
    val c0 = Validator.classify(pass)
    assert(c0 === Validator.Classification(productionOk = true, researchOk = true, "CLEAN"))
    // high imputation demotes a PASS to research-only HIGH_IMPUTE
    val c1 = Validator.classify(pass, imputedFraction = 0.4)
    assert(!c1.productionOk && c1.researchOk && c1.qualityTag === "HIGH_IMPUTE")
    // structural FAIL blocks both routes
    val corrupt = bars.withColumn("close", lit(-1.0))
    val c2 = Validator.classify(Validator.validate(corrupt))
    assert(!c2.productionOk && !c2.researchOk && c2.qualityTag === "BLOCKED")
    // CHECK-constraint emulation: invalid enum rows route to quarantine
    val s = spark; import s.implicits._
    val acts = Seq(("t1", "BUY"), ("t2", "SELL"), ("t3", "SHORT"), ("t4", null))
      .toDF("id", "action")
    val (clean, quarantined) = Validator.enforceEnum(acts, "action", Seq("BUY", "SELL", "HOLD"))
    assert(clean.select("id").as[String].collect().toSet === Set("t1", "t2"))
    assert(quarantined.select("id").as[String].collect().toSet === Set("t3", "t4"))
  }

  test("classificationCols matches classify over the status x fraction grid") {
    val s = spark; import s.implicits._
    val grid = for {
      status <- Seq("PASS", "WARN", "FAIL")
      imputed <- Seq(0.0, 0.31)
      padding <- Seq(0.0, 0.25)
    } yield (status, imputed, padding)
    val df = grid.toDF("status", "imputed", "padding")
    val got = df.select(Seq(col("status"), col("imputed"), col("padding")) ++
        Validator.classificationCols(col("status"), col("imputed"), col("padding")): _*)
      .collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)) ->
        Validator.Classification(r.getBoolean(3), r.getBoolean(4), r.getString(5)))
      .toMap
    grid.foreach { case (status, imputed, padding) =>
      val rep = graft.domain.QualityReport(1, 1, 0, 0, 0, 0, 0, 0, 0.0, status)
      assert(got((status, imputed, padding)) ===
        Validator.classify(rep, imputed, padding),
        s"($status, $imputed, $padding)")
    }
  }

  test("forward fill is causal and per-ticker; group mean fills the rest") {
    val gappy = bars.withColumn("close",
      when(dayofmonth(col("date")).isin(10, 11), lit(null)).otherwise(col("close")))
    val filled = Preprocessor.handleMissing(gappy, Seq("close"))
    assert(filled.where(col("close").isNull).count() === 0)
    // value on a gap day equals last pre-gap value of the SAME ticker
    val w9 = bars.where(dayofmonth(col("date")) === 9 && month(col("date")) === 1
      && col("ticker") === "AAPL").select("close").head().getDouble(0)
    val f10 = filled.where(dayofmonth(col("date")) === 10 && month(col("date")) === 1
      && col("ticker") === "AAPL").select("close").head().getDouble(0)
    assert(f10 === w9)
  }

  test("interpolate fills interior gaps linearly") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(
      ("A", Timestamp.valueOf("2024-01-01 00:00:00"), Some(10.0)),
      ("A", Timestamp.valueOf("2024-01-02 00:00:00"), None),
      ("A", Timestamp.valueOf("2024-01-03 00:00:00"), None),
      ("A", Timestamp.valueOf("2024-01-04 00:00:00"), Some(40.0)))
      .toDF("ticker", "date", "close")
    val out = Preprocessor.interpolate(df, "close")
      .orderBy("date").select("close").as[Double].collect()
    assert(out.toSeq == Seq(10.0, 20.0, 30.0, 40.0))
  }

  test("z-score fit on train applies without refit (leak-safe)") {
    val tagged = Splitter.chronological(bars)
    val train = tagged.where(col("split") === "training")
    val stats = Preprocessor.fitZScore(train, Seq("close"))
    val normTrain = Preprocessor.applyZScore(train, stats, Seq("close"))
    val m = normTrain.groupBy("ticker").agg(avg("close").as("m"), stddev_samp("close").as("s"))
      .collect()
    m.foreach { r =>
      assert(math.abs(r.getAs[Double]("m")) < 1e-9)
      assert(math.abs(r.getAs[Double]("s") - 1.0) < 1e-9)
    }
    // val/test transformed with TRAIN stats → mean generally != 0
    val normVal = Preprocessor.applyZScore(
      tagged.where(col("split") === "validation"), stats, Seq("close"))
    val vm = normVal.agg(avg("close")).head().getDouble(0)
    assert(math.abs(vm) > 1e-6)
  }

  test("chronological split honors fractions on unique dates, no overlap") {
    val tagged = Splitter.chronological(bars)
    val byDate = tagged.select("date", "split").distinct()
    val counts = byDate.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(counts("training") - 210L) <= 1)
    assert(math.abs(counts("validation") - 45L) <= 1)
    assert(SplitDiagnostics.nonOverlapping(tagged))
    assert(SplitDiagnostics.nonOverlapping(tagged, tagA = "validation", tagB = "testing"))
    // every date maps to exactly one split
    assert(byDate.groupBy("date").count().where(col("count") > 1).isEmpty)
  }

  test("tagChronological tags every row exactly as chronological, null dates included") {
    val spark2 = spark
    import spark2.implicits._
    def tags(df: DataFrame) = df.select("ticker", "date", "split").collect()
      .map(_.toString).sorted.toSeq
    // a null date ranks FIRST among chronological's distinct dates and
    // tags no row, yet shifts every cut by one
    val withNull = bars.unionByName(bars.limit(2)
      .withColumn("date", lit(null).cast("timestamp")))
    // 10 distinct dates (9 + the null): fractions whose n·frac land on
    // .5 exercise the HALF_UP rounding; 0.05·10 clamps to the 1-date floor
    val tiny = (1 to 9).map(d => ("T", Timestamp.valueOf(s"2024-01-0$d 00:00:00"), 1.0))
      .toDF("ticker", "date", "close")
      .unionByName(Seq(("T", null.asInstanceOf[Timestamp], 2.0)).toDF("ticker", "date", "close"))
    for {
      df <- Seq(bars, withNull, tiny)
      (tr, va) <- Seq((0.70, 0.15), (0.25, 0.35), (0.05, 0.45), (0.5, 0.25))
    } assert(tags(Splitter.tagChronological(df, tr, va)) ===
      tags(Splitter.chronological(df, tr, va)), s"fractions ($tr, $va)")
    // the null-date rows are testing rows in both forms
    assert(Splitter.tagChronological(withNull).where(col("date").isNull)
      .select("split").distinct().as[String].collect().toSeq === Seq("testing"))
  }

  test("both chronological forms refuse fewer than 3 distinct dates by name") {
    val two = bars.where(col("date") <= "2024-01-02")
    assert(two.select("date").distinct().count() === 2)
    val eager = intercept[IllegalArgumentException](Splitter.tagChronological(two))
    assert(eager.getMessage.contains("need >=3 distinct dates, got 2"))
    val lazyErr = intercept[Exception](Splitter.chronological(two).collect())
    assert(Iterator.iterate[Throwable](lazyErr)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("need >=3 distinct dates, got 2")))
  }

  test("expanding CV folds grow train, isolate test tail, keep order") {
    val folds = Splitter.cvFolds(bars, k = 4)
    assert(folds.size === 4)
    folds.sliding(2).foreach { case Seq(a, b) =>
      assert(a.trainStart === b.trainStart) // expanding
      assert(a.trainEnd.before(b.trainEnd))
      assert(!a.valStart.after(a.valEnd))
      assert(a.trainEnd.before(a.valStart))
    }
    val tagged = Splitter.tagFolds(bars, folds)
    // within a fold, train strictly precedes validation
    val bad = tagged.groupBy("fold_id").agg(
      max(when(col("role") === "train", col("date"))).as("max_train"),
      min(when(col("role") === "validation", col("date"))).as("min_val"))
      .where(col("max_train") >= col("min_val"))
    assert(bad.isEmpty)
    // CV never touches the isolated test tail (last 15% of dates)
    val allDates = bars.select("date").distinct().orderBy("date").collect().map(_.getTimestamp(0))
    val testStart = allDates(allDates.length - math.round(allDates.length * 0.15).toInt)
    assert(tagged.where(col("date") >= lit(testStart)).isEmpty)
  }

  test("PSI is near zero between identical halves and positive under drift") {
    val tagged = Splitter.chronological(bars, trainFrac = 0.5, valFrac = 0.5)
    val psi = SplitDiagnostics.psi(tagged, "close").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    psi.values.foreach(v => assert(v >= 0.0))
    // plant drift: shift validation prices 3x
    val drifted = tagged.withColumn("close",
      when(col("split") === "validation", col("close") * 3).otherwise(col("close")))
    val psiDrift = SplitDiagnostics.psi(drifted, "close").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    psiDrift.foreach { case (t, v) => assert(v > psi(t)) }
  }

  test("PSI gives a ticker whose closes are all null no entry") {
    val tagged = Splitter.chronological(bars.withColumn("close",
      when(col("ticker") === "GOOG", lit(null).cast("double")).otherwise(col("close"))))
    val psi = SplitDiagnostics.psi(tagged, "close").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(psi.keySet === Set("AAPL", "MSFT"))
  }
}
