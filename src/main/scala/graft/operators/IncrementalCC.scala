package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.sources.VersionedTable

/** Incremental connected-components maintenance — the missing link
  * between a continuous pair stream (streaming/NearDupStream) and dedup
  * GROUPS: new candidate pairs fold into a PERSISTED canonical component
  * table without ever recomputing the full graph (reference shape:
  * `etl/data_preprocessor.py`'s dedup family run as a continuous crawl;
  * batch siblings q95/q112, incremental-shard sibling q135).
  *
  * Invariant maintained: the table holds (node, component) with
  * component = MIN node id of the node's connected component over ALL
  * pairs folded so far — exactly [[ConnectedComponents.run]]'s contract,
  * so after any prefix of batches the table equals a from-scratch batch
  * run on the union of those batches (the spec proves it per batch, the
  * q147 oracle proves it hash-exactly against DuckDB's reachability
  * walk).
  *
  * Why this never touches the full graph: existing components are
  * CANONICAL (labeled by their minimum), so a whole component can be
  * represented by its label alone. A new batch therefore reduces to a
  * graph over component REPRESENTATIVES — each new pair becomes an edge
  * between its endpoints' current labels — and connected components of
  * that reduced graph (|edges| ≤ |batch|: one bounded collect into
  * [[ConnectedComponents.minRootLabels]], the driver union-find behind
  * [[ConnectedComponents.run]]'s local finish; a bulk backfill past the
  * bound goes through [[ConnectedComponents.run]] itself) yield the
  * merge decisions. Min-over-merged-labels equals
  * min-over-merged-components BECAUSE labels are minima — canonicality
  * is what makes the reduction lossless.
  *
  * Scale design (100 TB component table, small continuous batches):
  *  - The only reads of the big table are (a) one key-probe join of the
  *    ≤ 2|batch| touched endpoints against it and (b) one semi-join of
  *    the ≤ 2|batch|-entry relabel map against the `component` column
  *    to pull the rows of MERGED components. Untouched components are
  *    never read, rewritten, or shuffled.
  *  - The write path is a MERGE of the delta keyed by node into a
  *    [[VersionedTable]] partitioned by a stable hash of the node id,
  *    so each batch rewrites only the partitions holding affected rows
  *    (VersionedTable.upsert touches only those files) — snapshot
  *    isolation and time travel come with it.
  *  - The relabel map is driver-bounded by construction (≤ touched
  *    labels ≤ 2|batch|) and broadcast into both delta joins.
  */
object IncrementalCC {

  /** The outcome of folding one batch: `updated` is the full new table,
    * `delta` is exactly the rows whose (node, component) is new or
    * changed — what a MERGE sink writes. Both share the (node,
    * component) schema of [[ConnectedComponents.run]]. */
  final case class Step(updated: DataFrame, delta: DataFrame)

  /** Fold one batch of undirected pairs into a canonical component
    * table. `comps` must satisfy the canonical-minimum invariant (an
    * empty frame is fine); passing a non-canonical table would break
    * the representative reduction, so labels are NOT re-derived here.
    * A pair with a null endpoint is not an edge and is dropped, as in
    * [[ConnectedComponents.run]]. `maxLocalEdges`: reduced graphs at or
    * below this take the bounded collect → driver union-find fast path;
    * larger ones (a bulk backfill) go through [[ConnectedComponents.run]]
    * with this as its `localFinishEdges`. */
  def step(comps: DataFrame, pairs: DataFrame,
      srcCol: String = "src", dstCol: String = "dst",
      maxLocalEdges: Int = 100000): Step = {
    val e = ConnectedComponents.edgeSet(pairs, srcCol, dstCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val cmp = comps.select(col("node").cast("long").as("node"),
      col("component").cast("long").as("component"))

    // current label of every touched endpoint (itself when new), plus
    // whether the node is new to the table — one key probe of the big
    // table, |touched| ≤ 2|batch|
    val touched = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val lab = touched.join(cmp, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("component"), col("node")).as("lab"),
        col("component").isNull.as("is_new"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // the representative graph: one edge per pair between current
    // labels; within-component pairs vanish here
    val la = lab.select(col("node").as("src"), col("lab").as("la"))
    val lb = lab.select(col("node").as("dst"), col("lab").as("lb"))
    val red = e.join(la, "src").join(lb, "dst")
      .select(col("la").as("src"), col("lb").as("dst"))
      .where(col("src") =!= col("dst"))

    // components of the reduced graph → (old label → new root); roots
    // are minima over merged labels = minima over merged components.
    // A micro-batch-sized reduced graph (the normal continuous-ingest
    // case) takes ONE bounded collect into a driver union-find — the
    // distributed star contraction would spend ~8 fixed-cost scheduled
    // jobs on a graph of a few hundred edges. Only non-roots relabel.
    // Batches past the bound (a bulk backfill) fall back to
    // ConnectedComponents.run at the same bound: its contraction rounds
    // run until the edge set shrinks to it, then its local finish.
    val s = pairs.sparkSession
    import s.implicits._
    val redRows = red.limit(maxLocalEdges + 1)
      .as[(Long, Long)].collect()
    val relabel = broadcast(
      if (redRows.length <= maxLocalEdges)
        ConnectedComponents.minRootLabels(redRows).filter(p => p._1 != p._2)
          .toSeq.toDF("old_lab", "new_lab")
      else
        ConnectedComponents.run(red, localFinishEdges = maxLocalEdges)
          .where(col("node") =!= col("component"))
          .select(col("node").as("old_lab"), col("component").as("new_lab")))

    // delta: brand-new nodes at their final label, plus every existing
    // row of a merged component relabeled — nothing else changes
    val newRows = lab.where(col("is_new"))
      .join(relabel, lab("lab") === relabel("old_lab"), "left")
      .select(col("node"), coalesce(col("new_lab"), col("lab")).as("component"))
    val movedRows = cmp
      .join(relabel, cmp("component") === relabel("old_lab"))
      .select(col("node"), col("new_lab").as("component"))
    // eager checkpoint: the delta is the step's product (it is what a
    // sink MERGEs); pinning it lets the batch-scoped caches go, so
    // repeated steps (a stream's foreachBatch) accumulate nothing
    val delta = newRows.union(movedRows).localCheckpoint(true)
    e.unpersist()
    lab.unpersist()

    // the full view derives from (old table − delta keys) ∪ delta.
    // No broadcast hint: the delta is usually tiny (AQE broadcasts it)
    // but a merge of two giant components can make it arbitrarily
    // large, and a forced broadcast would OOM exactly then
    val updated = cmp.join(delta.select("node"), Seq("node"), "left_anti")
      .select(col("node"), col("component"))
      .union(delta)
    Step(updated, delta)
  }

  /** Number of hash partitions of the persisted component table. */
  val TableShards = 16

  /** Open (or initialize) the persisted component table at `root`. */
  def table(spark: SparkSession, root: String): VersionedTable =
    new VersionedTable(spark, root, "shard")

  private def withShard(df: DataFrame): DataFrame =
    df.withColumn("shard", pmod(col("node"), lit(TableShards.toLong)).cast("string"))

  /** Read the table back as (node, component) — empty-safe. */
  def readComps(spark: SparkSession, vt: VersionedTable): DataFrame = {
    val df = vt.read()
    if (df.columns.isEmpty) {
      import spark.implicits._
      Seq.empty[(Long, Long)].toDF("node", "component")
    } else df.select(col("node"), col("component"))
  }

  /** [[step]] against the persisted table: probe it, compute the delta,
    * MERGE only the delta (affected partitions only). Every
    * `compactEvery` commits the table is compacted + vacuumed — a
    * continuous stream otherwise adds one small file per touched
    * partition per micro-batch, and the probe join's scan cost creeps
    * with the file count (the standard streaming-MERGE small-files
    * story; checkpoint() keeps log-fold cost O(commits since last)). */
  def updateTable(spark: SparkSession, vt: VersionedTable,
      pairs: DataFrame, srcCol: String = "src", dstCol: String = "dst",
      compactEvery: Long = 32L): Unit = {
    val delta = step(readComps(spark, vt), pairs, srcCol, dstCol).delta
    // delta is unique by node BY CONSTRUCTION (new nodes and moved rows
    // are disjoint, each keyed once — IncrementalCCSpec asserts it), so
    // the merge skips its dedupe-window shuffle
    val stats = vt.upsert(withShard(delta), keyCols = Seq("node"),
      assumeUniqueKeys = true)
    if (compactEvery > 0 && stats.version > 0 &&
        stats.version % compactEvery == 0) {
      vt.compact()
      vt.checkpoint()
      // keepLast = 0: reclaim everything but the post-compaction
      // snapshot — any keepLast ≥ 1 would keep the PRE-compaction
      // snapshot alive and with it every small file the compaction
      // just replaced. The component table is maintained STATE (the
      // log keeps full history entries, but snapshots older than the
      // compaction cadence stop being re-readable); pass
      // compactEvery = 0 when time travel over the table matters.
      vt.vacuum(keepLast = 0): Unit
    }
  }
}
