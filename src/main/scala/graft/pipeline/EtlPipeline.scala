package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField,
  StructType}

import graft.domain.QualityReport
import graft.etl.{Preprocessor, Splitter, SplitDiagnostics, Validator}
import graft.features.FeatureBuilder

/** The 4-stage batch ETL pipeline as a declarative stage DAG — rebuild of
  * /root/reference/scripts/run_etl_pipeline.py:979-1496 (execute_pipeline:
  * extraction → validation → preprocessing → feature build → split/store),
  * with the reference's leak guards preserved:
  *  - live mode forces CAUSAL forward fill only (:1402-1408);
  *  - normalization is deferred to post-split, fit on train only (:1463-1482);
  *  - split drift (PSI) is computed train-vs-validation (:1487).
  *
  * Stages are DataFrame→DataFrame transforms; "checkpoints" are parquet
  * stage directories plus a run-catalog row keyed by a per-run id
  * (etl/checkpoint_manager.py:59-436 reduced to its durable core).
  *
  * Feature route: input that meets the feature kernel's contract — no
  * null ticker, date, close, high or low, read from the validator's
  * `n_feature_nulls` — builds its processed stage on the row-parallel
  * halo kernel (`FeatureBuilder.buildFast`'s route, which carries
  * open/volume/adjClose/source through, so the stage keeps the plain
  * form's exact schema and column order); any other input takes
  * `FeatureBuilder.build`'s. The kernel frame is not persisted:
  * recomputing it for its two readers measured faster than caching it,
  * and no block outlives the run.
  *
  * Plan budget: a run is five queries — the raw write, the validation
  * report (which also collects the date dimension), the feature stage's
  * per-ticker aggregate (which also fits the split stage: z-score
  * moments, PSI bins, split census), the one write of the processed and
  * split stages, and the catalog append — so every class Spark generates
  * for a run (59 on the kernel route) fits its codegen cache (100
  * entries in 4 LRU segments) and a warm run compiles none of them again
  * (plans/etl_codegen).
  */
object EtlPipeline {

  final case class Config(
      outDir: String,
      trainFrac: Double = 0.70,
      valFrac: Double = 0.15,
      researchMode: Boolean = false, // research mode may backfill
      // input or windowed-feature columns: their fit rides the feature
      // stage's per-ticker aggregate, before the cross-sectional tail
      normalizeCols: Seq[String] = Seq("close"),
      minBars: Int = 30,
      // stage sinks as VersionedTables: each run overwrites into a NEW
      // snapshot version (readers of the previous run are never torn;
      // readAt(v) replays any prior run's stage until vacuum)
      versionedStages: Boolean = false)

  final case class RunResult(
      runId: String,
      quality: QualityReport,
      rowsPerSplit: Map[String, Long],
      psi: Map[String, Double],
      stageDirs: Map[String, String])

  def run(spark: SparkSession, rawBars: DataFrame, cfg: Config): RunResult = {
    // one id per RUN: the old config+schema hash reused the same id for
    // every re-run over fresh data, so _run_catalog accumulated rows
    // with identical run_id and any consumer keying on it (including
    // PipelineSpec's own count===1 pattern) read ambiguous results
    val runId = java.util.UUID.randomUUID().toString

    // 1. extraction output is the input frame; persist the raw stage
    val stages = scala.collection.mutable.Map.empty[String, String]
    def store(name: String, df: DataFrame): DataFrame = {
      val dir = s"${cfg.outDir}/$name"
      stages(name) = dir
      if (cfg.versionedStages) {
        val table = new graft.sources.VersionedTable(spark, dir, partitionCol = "ticker")
        table.overwrite(df)
        table.read()
      } else {
        df.write.mode("overwrite").partitionBy("ticker").parquet(dir)
        // read back with the schema it was written with: no inference
        // job over the footers; the partition column comes last, as
        // inference puts it
        spark.read.schema(df.schema).parquet(dir)
      }
    }
    val raw = store("raw", rawBars)

    // 2. validation — FAIL raises, WARN proceeds (run_etl_pipeline :1375-1389)
    // the same query collects the date dimension the split stage cuts on
    val (quality, dates) = Validator.validateWithDates(raw, minBars = cfg.minBars)
    require(quality.status != "FAIL", s"validation failed: $quality")

    // 3. preprocessing + features. Input that meets the feature
    // kernel's contract (the validator's n_feature_nulls: no null
    // ticker/date/close/high/low; unique keys and monotonic dates are
    // FAIL conditions above) takes the row-parallel kernel; any other
    // input takes the plain per-ticker Window form. The causal fill is
    // the identity on a column without nulls, so the kernel route fills
    // only `open` (its prices are null-free by the contract), and only
    // when the report counted a null at all.
    //
    // The split's cut dates are known before the features (the
    // processed stage keeps the raw stage's rows, so the raw stage's date
    // dimension is its own), so the split stage's fit rides the feature
    // stage's own per-ticker aggregate: the z-score moments and the PSI
    // bin cuts over the TRAINING rows only, the PSI bin counts of both
    // sides and the row census of every split. It comes back collected
    // (one row per ticker); the PSI is finished on the driver, and the
    // moments ride the feature stage's dimension join onto its rows.
    val split = Splitter.splitOf(dates, cfg.trainFrac, cfg.valFrac)
    val training = split === "training"
    val prices = Seq("open", "high", "low", "close")
    def fill(cols: Seq[String]) =
      Preprocessor.handleMissing(raw, cols, backfill = cfg.researchMode)
    val fast = quality.nFeatureNulls == 0
    val splitNames = Seq("training", "validation", "testing")
    val moments = cfg.normalizeCols.flatMap(c => Seq(s"${c}__mean", s"${c}__std"))
    val fitted = FeatureBuilder.buildFitting(
      if (!fast) fill(prices) else if (quality.nResidualNulls > 0) fill(Seq("open")) else raw,
      fast, Preprocessor.zScoreAggs(cfg.normalizeCols, training) ++
        splitNames.map(sp => count(when(split === sp, 1)).as(s"_n_$sp")) :+
        SplitDiagnostics.binCountsAgg("close", split,
          SplitDiagnostics.binCuts("close", rows = training)).as("_psi_counts"),
      carry = moments)
    def fitCol(name: String) = fitted.fitSchema.fieldIndex(name)
    val perTicker = fitted.fit.filter(!_.isNullAt(0))
    val psi = perTicker.flatMap { r =>
      Option(r.getSeq[Long](fitCol("_psi_counts")))
        .flatMap(SplitDiagnostics.psiOfCounts(_)).map(r.getString(0) -> _)
    }.toMap
    // the split stages hold every processed row, a null ticker's too
    val rows = splitNames.map(sp =>
      sp -> fitted.fit.map(_.getLong(fitCol(s"_n_$sp"))).sum).toMap
    val features = fitted.features.drop(moments: _*)

    // 4. split + post-split normalization (fit on train ONLY). Stage
    // outputs deliberately EXCLUDE the `split` column in every mode (it
    // is constant within a stage dir); the single-pass path below drops
    // it structurally (it becomes the renamed-away partition dir), so
    // the versioned and empty-stage paths drop it explicitly — one
    // schema across modes.
    if (cfg.versionedStages) {
      val stats = spark.createDataFrame(java.util.Arrays.asList(perTicker: _*),
          fitted.fitSchema)
        .select((col("ticker") +: moments.map(col)): _*)
      val normalized = Preprocessor.applyZScore(
        store("processed", features).withColumn("split", split),
        stats, cfg.normalizeCols)
      splitNames.foreach { sp =>
        val dir = s"${cfg.outDir}/$sp"
        stages(sp) = dir
        new graft.sources.VersionedTable(spark, dir, partitionCol = "ticker")
          .overwrite(normalized.where(col("split") === sp).drop("split"))
      }
    } else {
      // ONE write emits every stage: each feature row twice, as is under
      // `_stage=processed` and z-scored under its split's name (two
      // writes read the features, or their stage, once each — a wasted
      // full pass at 100 TB); the `_stage` partition dirs are then
      // renamed into the top-level stage-dir contract (metadata ops, no
      // data movement). Ticker partitioning is preserved beneath each
      // stage.
      require(cfg.normalizeCols.forall(c => features.schema(c).dataType == DoubleType),
        s"normalizeCols must be double columns: ${cfg.normalizeCols}")
      val tmp = s"${cfg.outDir}/_stages_tmp"
      val stage = col("_stage")
      Preprocessor.zScored(
          fitted.features.withColumn("_stage", explode(array(lit("processed"), split))),
          cfg.normalizeCols, rows = stage =!= "processed")
        .write.mode("overwrite")
        .partitionBy("_stage", "ticker").parquet(tmp)
      val fs = new org.apache.hadoop.fs.Path(tmp)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      ("processed" +: splitNames).foreach { st =>
        val src = new org.apache.hadoop.fs.Path(s"$tmp/_stage=$st")
        val dst = new org.apache.hadoop.fs.Path(s"${cfg.outDir}/$st")
        fs.delete(dst, true)
        if (fs.exists(src))
          require(fs.rename(src, dst), s"stage rename failed: $src -> $dst")
        else {
          // degenerate empty stage (e.g. tiny input): keep the contract
          // with an explicit empty write so readers see a schema. The
          // write must be UNPARTITIONED — a zero-row partitionBy write
          // emits no parquet footer (only _SUCCESS) and the stage dir
          // would then die on schema inference, crashing exactly the
          // case this branch exists to absorb
          spark.createDataFrame(java.util.Collections.emptyList[Row](),
              StructType(features.schema.map(_.copy(nullable = true))))
            .write.mode("overwrite").parquet(dst.toString)
        }
        stages(st) = dst.toString
      }
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    }

    // run catalog row (checkpoint metadata keyed by the per-run id)
    val catalog = spark.createDataFrame(java.util.List.of(Row(runId, quality.status,
        rows.getOrElse("training", 0L), rows.getOrElse("validation", 0L),
        rows.getOrElse("testing", 0L), System.currentTimeMillis())),
      StructType(Seq("run_id", "status").map(StructField(_, StringType)) ++
        Seq("n_train", "n_val", "n_test", "created_at")
          .map(StructField(_, LongType, nullable = false))))
    catalog.write.mode("append").parquet(s"${cfg.outDir}/_run_catalog")

    RunResult(runId, quality, rows, psi, stages.toMap)
  }

  /** Retention cleanup (data_storage.py:150-177): drop stage artifacts
    * older than `maxAgeDays` and compact the run catalog to the same
    * horizon. `nowMillis` is injectable so the cutoff is testable. The
    * deletes are per-directory filesystem ops — a TTL sweep, not a data
    * job. */
  def retention(spark: SparkSession, outDir: String, maxAgeDays: Int,
      nowMillis: Long = System.currentTimeMillis()): Seq[String] = {
    val cutoff = nowMillis - maxAgeDays * 86400000L
    val root = new org.apache.hadoop.fs.Path(outDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    val deleted = fs.listStatus(root).toSeq
      .filter(st => st.getPath.getName != "_run_catalog")
      .filter(_.getModificationTime < cutoff)
      .map { st => fs.delete(st.getPath, true); st.getPath.getName }
    val catalogPath = new org.apache.hadoop.fs.Path(s"$outDir/_run_catalog")
    if (fs.exists(catalogPath)) {
      // safety comes from ORDER, not from caching: the compacted copy is
      // fully written to tmp (which reads the source) BEFORE the source
      // moves, and both renames are checked — the old unchecked
      // delete-then-rename could silently lose the whole catalog on a
      // false rename, with no recovery path. The one remaining crash
      // window (between the two renames) leaves the full pre-compaction
      // catalog intact at _run_catalog_old.
      val tmp = new org.apache.hadoop.fs.Path(s"$outDir/_run_catalog_tmp")
      val old = new org.apache.hadoop.fs.Path(s"$outDir/_run_catalog_old")
      spark.read.parquet(catalogPath.toString)
        .where(col("created_at") >= cutoff)
        .write.mode("overwrite").parquet(tmp.toString)
      fs.delete(old, true): Unit
      require(fs.rename(catalogPath, old),
        s"catalog compaction: aside rename failed: $catalogPath -> $old")
      require(fs.rename(tmp, catalogPath),
        s"catalog compaction: swap rename failed: $tmp -> $catalogPath")
      fs.delete(old, true): Unit
    }
    deleted
  }
}
