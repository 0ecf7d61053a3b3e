package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField,
  StructType}

import graft.domain.QualityReport
import graft.etl.{Preprocessor, Splitter, SplitDiagnostics, Validator}
import graft.features.FeatureBuilder
import graft.sources.{MergeStaging, VersionedTable}

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
  * Publish: every stage dir is written once, partitioned by ticker,
  * under a staging dir (`_raw_tmp` for raw, `_stages_tmp/_stage=<name>`
  * for the rest) and published by one function. By default that is a
  * checked swap: the live stage moves aside into `_stages_old`, the
  * staged dir moves in, and `_stages_old` is cleared only after the last
  * swap, so a failed publish leaves the previous run's stage on disk;
  * the next publish first moves any such stage whose live dir is missing
  * back into place.
  * With `versionedStages` it is an overwrite commit of the staged
  * `ticker=` dirs into the stage's VersionedTable; the writes are the
  * same in both modes.
  *
  * Features: one route. The input is the raw stage, filled by
  * `Preprocessor.handleMissing` when the validator counted a null
  * price or volume; either way it meets the feature kernel's input
  * contract, and the processed stage is built on the row-parallel halo
  * kernel (`FeatureBuilder.build`'s engine, which carries
  * open/volume/adjClose/source through in their input positions). The
  * kernel frame is not persisted: recomputing it for its two readers
  * measured faster than caching it, and no block outlives the run.
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
      // picks how each staged stage dir is published, not how it is
      // written: false swaps it in for the live dir; true commits it as a
      // NEW snapshot version of the stage's VersionedTable (readers of
      // the previous run are never torn; readAt(v) replays any prior
      // run's stage until vacuum)
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

    // The one publish of staged stage dirs (see "Publish" above). Each
    // entry is (stage name, staged dir, its row count — read only by the
    // versioned commit).
    val fs = new Path(cfg.outDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stages = scala.collection.mutable.Map.empty[String, String]
    def publish(staged: (String, Path, () => Long)*): Unit = {
      def live(name: String) = s"${cfg.outDir}/$name"
      if (cfg.versionedStages) staged.foreach { case (name, dir, rows) =>
        new VersionedTable(spark, live(name), partitionCol = "ticker")
          .commitOverwrite(dir, rows()): Unit
      } else {
        val old = new Path(s"${cfg.outDir}/_stages_old")
        // a publish that failed part-way left a stage only aside: move it
        // back before clearing, or the next publish deletes its last copy
        if (fs.exists(old)) fs.listStatus(old).foreach { st =>
          val back = new Path(live(st.getPath.getName))
          if (!fs.exists(back) && !fs.rename(st.getPath, back))
            throw new java.io.IOException(
              s"stage publish: failed to restore ${st.getPath} to $back")
        }
        fs.delete(old, true)
        fs.mkdirs(old)
        staged.foreach { case (name, dir, _) =>
          MergeStaging.swap(fs, dir, new Path(live(name)), new Path(old, name), "stage publish")
        }
        fs.delete(old, true)
      }
      staged.foreach { case (name, _, _) => stages(name) = live(name) }
    }

    // 1. extraction output is the input frame; persist the raw stage.
    // Its row count is observed for the versioned commit only.
    val rawStaged = new Path(s"${cfg.outDir}/_raw_tmp")
    val rawRows = org.apache.spark.sql.Observation()
    (if (cfg.versionedStages) rawBars.observe(rawRows, count(lit(1)).as("n")) else rawBars)
      .write.mode("overwrite").partitionBy("ticker").parquet(rawStaged.toString)
    publish(("raw", rawStaged, () => rawRows.get("n").asInstanceOf[Long]))
    val raw =
      if (cfg.versionedStages) new VersionedTable(spark, stages("raw"), "ticker").read()
      // read back with the schema it was written with: no inference job
      // over the footers; the partition column comes last, as inference
      // puts it
      else spark.read.schema(rawBars.schema).parquet(stages("raw"))

    // 2. validation — FAIL raises, WARN proceeds (run_etl_pipeline :1375-1389)
    // the same query collects the date dimension the split stage cuts on
    val (quality, dates) = Validator.validateWithDates(raw, minBars = cfg.minBars)
    require(quality.status != "FAIL", s"validation failed: $quality")

    // 3. preprocessing + features. The causal fill is the identity on
    // a frame without nulls, so it runs only when the report counted a
    // null at all; after it, each price column of a ticker is null on
    // every row or on none, which the feature kernel accepts (unique
    // keys are a FAIL condition above).
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
    val splitNames = Seq("training", "validation", "testing")
    val moments = cfg.normalizeCols.flatMap(c => Seq(s"${c}__mean", s"${c}__std"))
    val fitted = FeatureBuilder.buildFitting(
      if (quality.nResidualNulls > 0)
        Preprocessor.handleMissing(raw, prices, backfill = cfg.researchMode)
      else raw,
      Preprocessor.zScoreAggs(cfg.normalizeCols, training) ++
        splitNames.map(sp => count(when(split === sp, 1)).as(s"_n_$sp")) :+
        SplitDiagnostics.binCountsAgg("close", split,
          SplitDiagnostics.binCuts("close", rows = training)).as("_psi_counts"),
      carry = moments)
    def fitCol(name: String) = fitted.fitSchema.fieldIndex(name)
    val psi = fitted.fit.filter(!_.isNullAt(0)).flatMap { r =>
      Option(r.getSeq[Long](fitCol("_psi_counts")))
        .flatMap(SplitDiagnostics.psiOfCounts(_)).map(r.getString(0) -> _)
    }.toMap
    // the split stages hold every processed row, a null ticker's too
    val rows = splitNames.map(sp =>
      sp -> fitted.fit.map(_.getLong(fitCol(s"_n_$sp"))).sum).toMap
    val features = fitted.features.drop(moments: _*)

    // 4. split + post-split normalization (fit on train ONLY). ONE write
    // emits every stage: each feature row twice, as is under
    // `_stage=processed` and z-scored under its split's name (two writes
    // read the features, or their stage, once each — a wasted full pass
    // at 100 TB). Ticker partitioning is preserved beneath each stage,
    // and the constant `split` column becomes the `_stage` dir, so no
    // stage output carries it.
    require(cfg.normalizeCols.forall(c => features.schema(c).dataType == DoubleType),
      s"normalizeCols must be double columns: ${cfg.normalizeCols}")
    val tmp = s"${cfg.outDir}/_stages_tmp"
    val stage = col("_stage")
    Preprocessor.zScored(
        fitted.features.withColumn("_stage", explode(array(lit("processed"), split))),
        cfg.normalizeCols, rows = stage =!= "processed")
      .write.mode("overwrite")
      .partitionBy("_stage", "ticker").parquet(tmp)
    publish(("processed" +: splitNames).map { st =>
      val dir = new Path(s"$tmp/_stage=$st")
      // degenerate empty stage (e.g. tiny input): keep the contract with
      // an explicit empty write so readers see a schema (the versioned
      // commit finds no `ticker=` dir in it and commits an empty
      // snapshot). The write must be UNPARTITIONED — a zero-row
      // partitionBy write emits no parquet footer (only _SUCCESS) and
      // the stage dir would then die on schema inference
      if (!fs.exists(dir))
        spark.createDataFrame(java.util.Collections.emptyList[Row](),
            StructType(features.schema.map(_.copy(nullable = true))))
          .write.parquet(dir.toString)
      (st, dir, () => if (st == "processed") rows.values.sum else rows(st))
    }: _*)
    fs.delete(new Path(tmp), true)

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
    val root = new Path(outDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    val deleted = fs.listStatus(root).toSeq
      .filter(st => st.getPath.getName != "_run_catalog")
      .filter(_.getModificationTime < cutoff)
      .map { st => fs.delete(st.getPath, true); st.getPath.getName }
    val catalogPath = new Path(s"$outDir/_run_catalog")
    if (fs.exists(catalogPath)) {
      // safety comes from ORDER, not from caching: the compacted copy is
      // fully written to tmp (which reads the source) BEFORE the source
      // moves, and both renames are checked — the old unchecked
      // delete-then-rename could silently lose the whole catalog on a
      // false rename, with no recovery path. The one remaining crash
      // window (between the two renames) leaves the full pre-compaction
      // catalog intact at _run_catalog_old.
      val tmp = new Path(s"$outDir/_run_catalog_tmp")
      val old = new Path(s"$outDir/_run_catalog_old")
      spark.read.parquet(catalogPath.toString)
        .where(col("created_at") >= cutoff)
        .write.mode("overwrite").parquet(tmp.toString)
      fs.delete(old, true): Unit
      MergeStaging.swap(fs, tmp, catalogPath, old, "catalog compaction")
      fs.delete(old, true): Unit
    }
    deleted
  }
}
