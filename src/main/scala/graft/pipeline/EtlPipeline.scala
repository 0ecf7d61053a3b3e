package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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
  * `n_feature_nulls` — builds its processed stage through
  * `FeatureBuilder.buildFast` (the row-parallel halo kernel, which
  * carries open/volume/adjClose/source through, so the stage keeps the
  * plain form's exact schema and column order); any other input takes
  * `FeatureBuilder.build`. The kernel frame is not persisted: recomputing
  * it for finish()'s three subtrees measured faster than caching it, and
  * no block outlives the run. The split stage derives its two cut dates
  * once per run and fits the z-score moments and PSI bin cuts in one
  * per-ticker aggregate.
  */
object EtlPipeline {

  final case class Config(
      outDir: String,
      trainFrac: Double = 0.70,
      valFrac: Double = 0.15,
      researchMode: Boolean = false, // research mode may backfill
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
        spark.read.parquet(dir)
      }
    }
    val raw = store("raw", rawBars)

    // 2. validation — FAIL raises, WARN proceeds (run_etl_pipeline :1375-1389)
    val quality = Validator.validate(raw, minBars = cfg.minBars)
    require(quality.status != "FAIL", s"validation failed: $quality")

    // 3. preprocessing + features. Input that meets the feature
    // kernel's contract (the validator's n_feature_nulls: no null
    // ticker/date/close/high/low; unique keys and monotonic dates are
    // FAIL conditions above) takes the row-parallel kernel; any other
    // input takes the plain per-ticker Window form. The causal fill is
    // the identity on a column without nulls, so the kernel route fills
    // only `open` (its prices are null-free by the contract), and only
    // when the report counted a null at all.
    val prices = Seq("open", "high", "low", "close")
    def fill(cols: Seq[String]) =
      Preprocessor.handleMissing(raw, cols, backfill = cfg.researchMode)
    val processed =
      if (quality.nFeatureNulls > 0)
        store("processed", FeatureBuilder.build(fill(prices), dropNa = false))
      else
        store("processed", FeatureBuilder.buildFast(
          if (quality.nResidualNulls > 0) fill(Seq("open")) else raw,
          dropNa = false))

    // 4. split + post-split normalization (fit on train ONLY) + drift.
    // The cut dates are derived once (one bounded collect of the date
    // dim), so `tagged` is a plain projection of the processed stage;
    // ONE per-ticker aggregate over the training rows fits both the
    // z-score moments and the PSI bin cuts, collected as a local
    // (tickers-row) dimension that the PSI counts and the split write
    // both broadcast without re-running it (a broadcast collects the
    // dimension to the driver anyway).
    val tagged = Splitter.tagChronological(processed, cfg.trainFrac, cfg.valFrac)
    val fit = {
      val aggs = Preprocessor.zScoreAggs(cfg.normalizeCols) :+
        SplitDiagnostics.binCuts("close")
      val agg = tagged.where(col("split") === "training")
        .groupBy("ticker").agg(aggs.head, aggs.tail: _*)
      spark.createDataFrame(java.util.Arrays.asList(agg.collect(): _*), agg.schema)
    }
    val normalized = Preprocessor.applyZScore(tagged, fit.drop("cuts"),
      cfg.normalizeCols)
    val psi = SplitDiagnostics.psiWithCuts(tagged, fit.select("ticker", "cuts"),
      "close").collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // Stage outputs deliberately EXCLUDE the `split` column in every
    // mode (it is constant within a stage dir); the single-pass path
    // below drops it structurally (it becomes the renamed-away partition
    // dir), so the versioned and empty-split paths drop it explicitly —
    // one schema across modes.
    val splitNames = Seq("training", "validation", "testing")
    // row census: the versioned path counts through the table lineage
    // (stage dirs hold superseded snapshot files too); the plain path
    // OBSERVES the per-split counts on the write itself — no separate
    // count jobs, and no re-read of the freshly written splits (at
    // 100 TB that census re-read is a full extra pass over the output)
    val rows: Map[String, Long] =
      if (cfg.versionedStages) {
        // each overwrite already OBSERVED its exact row count into the
        // commit log (Entry.inserted) — read it back instead of paying a
        // fourth full aggregation pass over the normalized lineage
        splitNames.map { sp =>
          val dir = s"${cfg.outDir}/$sp"
          stages(sp) = dir
          val table = new graft.sources.VersionedTable(spark, dir,
            partitionCol = "ticker")
          table.overwrite(
            normalized.where(col("split") === sp).drop("split")): Unit
          sp -> table.history().last.inserted
        }.toMap
      } else {
        // ONE pass over the processed table writes every split (three
        // per-split writes scanned it once each — two wasted full-table
        // scans at 100 TB); the split=X partition dirs are then renamed
        // into the top-level stage-dir contract (metadata ops, no data
        // movement). Ticker partitioning is preserved beneath each split.
        val obs = org.apache.spark.sql.Observation(s"splits_$runId")
        val tmp = s"${cfg.outDir}/_splits_tmp"
        val census = splitNames.map(sp =>
          sum(when(col("split") === sp, 1L).otherwise(0L)).as(sp))
        normalized
          .observe(obs, census.head, census.tail: _*)
          .write.mode("overwrite")
          .partitionBy("split", "ticker").parquet(tmp)
        val fs = new org.apache.hadoop.fs.Path(tmp)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        splitNames.foreach { sp =>
          val src = new org.apache.hadoop.fs.Path(s"$tmp/split=$sp")
          val dst = new org.apache.hadoop.fs.Path(s"${cfg.outDir}/$sp")
          fs.delete(dst, true)
          if (fs.exists(src)) {
            require(fs.rename(src, dst), s"stage rename failed: $src -> $dst")
            stages(sp) = dst.toString
          } else {
            // degenerate empty split (e.g. tiny input): keep the contract
            // with an explicit empty write so readers see a schema. The
            // write must be UNPARTITIONED — a zero-row partitionBy write
            // emits no parquet footer (only _SUCCESS) and the stage dir
            // would then die on schema inference, crashing exactly the
            // case this branch exists to absorb
            normalized.where(col("split") === sp).drop("split")
              .write.mode("overwrite").parquet(dst.toString)
            stages(sp) = dst.toString
          }
        }
        fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
        val got = obs.get
        splitNames.map(sp =>
          sp -> Option(got.getOrElse(sp, null)).map(_.asInstanceOf[Long])
            .getOrElse(0L)).toMap
      }

    // run catalog row (checkpoint metadata keyed by the per-run id)
    val catalog = spark.createDataFrame(Seq(
      (runId, quality.status, rows.getOrElse("training", 0L),
        rows.getOrElse("validation", 0L), rows.getOrElse("testing", 0L),
        System.currentTimeMillis())))
      .toDF("run_id", "status", "n_train", "n_val", "n_test", "created_at")
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
