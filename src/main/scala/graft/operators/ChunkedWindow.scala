package graft.operators

import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import java.math.{BigDecimal => JBig}

/** Halo-exchange rolling windows — per-key sliding frames whose
  * parallelism scales with ROWS, not with distinct partition keys.
  *
  * `Window.partitionBy(ticker)` puts each ticker's entire history in ONE
  * task. The reference works on a handful of tickers
  * (/root/reference/etl/time_series_feature_builder.py:71-290 iterates a
  * small universe), so at 100 TB a 5-ticker window stage serializes the
  * whole job onto 5 cores no matter how many executors exist. This
  * operator restores row-proportional parallelism for bounded
  * `rowsBetween(lo, hi)` frames (lo <= hi <= 0):
  *
  *   1. ONE range shuffle on (key, t, seq) through an explicitly built
  *      RangePartitioner — its bounds are sampled once on the driver and
  *      shared by every job below (`repartitionByRange` would re-sample
  *      per job and the jobs would disagree on partitioning; the shuffle
  *      output itself is reused across jobs via lineage);
  *   2. a tiny metadata job collects, per (partition, key): the row
  *      count and the last h rows (h = frame depth). The driver turns
  *      counts into per-key start offsets (-> dense per-key row index
  *      with NO per-key window) and boundary tails into the "halo" each
  *      partition must prepend to a key continued from earlier
  *      partitions. Collected size is O(partitions * keys-per-partition
  *      * h) — broadcast back;
  *   3. each partition streams its sorted rows once with an O(h)
  *      kernel — no second shuffle, no row duplication.
  *
  * The machinery (steps 1-2 + the per-key halo replay) is generic
  * ([[haloScan]]); [[rollingMoments]] plugs in the exact-decimal moment
  * ring kernel, and `graft.features.FeatureKernel` plugs in the full
  * per-ticker feature block.
  *
  * Exactness (rollingMoments): quantization happens in Spark expressions
  * BEFORE the kernel — x itself on the raw (38,6) grid, the higher
  * moments as GRID-EXACT integer products (Det.qfloor at grid2/grid3,
  * multiplied as DECIMAL(38,0) — no lossy double→decimal rounding of a
  * computed product, the q83 tie class). The kernel only adds/subtracts
  * BigDecimals, which is exact and order-independent — so results are
  * hash-identical to the same grid-exact plain-window expressions
  * (spec: ChunkedWindowSpec). s2/s3 are divided back by grid²/grid³
  * in-kernel, so callers see value semantics.
  * Null x follows plain-window semantics: excluded from `n` (count(x))
  * and the sums (a null row contributes zero via coalesce, never a null
  * BigDecimal), sums go null when the frame has no non-null x, and
  * `prev` (lag 1) passes the previous row's null through.
  */
object ChunkedWindow {

  /** Per-key streaming kernel driven by [[haloScan]]: `reset` starts a
    * new key run (rn0 = global per-key row index of the first REAL row
    * in this partition, n = the key's row count over all partitions),
    * `halo` warms state with a carried boundary row (no emit), `row`
    * processes a real row and emits. One instance is reused across the
    * keys of a partition — reset must clear ALL state. */
  private[graft] trait HaloKernel[T, O] {
    def reset(rn0: Long, n: Long): Unit
    def halo(t: T): Unit
    def row(t: T): O
  }

  /** The scan's (key, t, seq) order. A null key sorts first and is one
    * group, as `Window.partitionBy(key)` makes it (`Ordering.String`
    * throws on null). */
  private implicit val scanOrder: Ordering[(String, Long, Long)] =
    Ordering.Tuple3(NullFirst, Ordering.Long, Ordering.Long)

  private object NullFirst extends Ordering[String] {
    def compare(a: String, b: String): Int =
      if (a == null) (if (b == null) 0 else -1)
      else if (b == null) 1
      else a.compareTo(b)
  }

  /** The generic halo-exchange scan: range-shuffle `keyed` once, collect
    * per-(partition, key) counts + h-row boundary tails, compute per-key
    * offsets and halos on the driver, then stream each partition once
    * through a fresh kernel. `light` is a cheap (key, t, seq) projection
    * used only for RangePartitioner bound sampling — it lets the sampling
    * job prune the scan to the sort columns. */
  private[graft] def haloScan[T: ClassTag, O: ClassTag](
      spark: SparkSession,
      keyed: RDD[((String, Long, Long), T)],
      light: RDD[((String, Long, Long), Unit)],
      numPartitions: Int, h: Int)(mk: () => HaloKernel[T, O]): RDD[O] = {
    val part = new org.apache.spark.RangePartitioner(numPartitions, light)
    val sorted = keyed.repartitionAndSortWithinPartitions(part)

    // metadata pass: per (partition, key) -> (count, last h rows)
    val meta = sorted.mapPartitionsWithIndex { (pid, it) =>
      val m = scala.collection.mutable.LinkedHashMap
        .empty[String, (Long, scala.collection.mutable.ArrayDeque[T])]
      it.foreach { case ((k, _, _), t) =>
        val (cnt, tail) = m.getOrElseUpdate(k,
          (0L, scala.collection.mutable.ArrayDeque.empty[T]))
        tail.append(t)
        if (tail.length > h) tail.removeHead()
        m.update(k, (cnt + 1L, tail))
      }
      m.iterator.map { case (k, (n, tail)) => (pid, k, n, tail.toArray) }
    }.collect()
    // driver-side by design: one row per (partition, key-run) — at most
    // p + #keys entries, each carrying ≤ h halo rows. For p=1000 tasks,
    // 10k keys, h=126 that is ~11k × 126 small structs (a few MB), and
    // it does NOT grow with fact rows. The guard enforces the bound.
    require(meta.length <= 1000000,
      s"halo metadata unexpectedly large (${meta.length} partition-key runs)")

    // driver: per-key cumulative offsets (with the key's row count) + the
    // halo rows partition p must prepend for key k (the last
    // min(h, startRn) rows from earlier pids)
    val offsets = scala.collection.mutable.HashMap.empty[(Int, String), (Long, Long)]
    val halos = scala.collection.mutable.HashMap.empty[(Int, String), Array[T]]
    meta.groupBy(_._2).foreach { case (k, rows) =>
      val total = rows.map(_._3).sum
      var acc = 0L
      val carry = scala.collection.mutable.ArrayDeque.empty[T]
      rows.sortBy(_._1).foreach { case (pid, _, n, tail) =>
        offsets((pid, k)) = (acc, total)
        if (acc > 0) halos((pid, k)) = carry.toArray // length = min(h, acc)
        acc += n
        if (n >= h) { carry.clear(); carry.appendAll(tail) }
        else {
          carry.appendAll(tail)
          while (carry.length > h) carry.removeHead()
        }
      }
    }
    val bOffsets = spark.sparkContext.broadcast(offsets.toMap)
    val bHalos = spark.sparkContext.broadcast(halos.toMap)

    sorted.mapPartitionsWithIndex { (pid, it) =>
      val offs = bOffsets.value
      val hls = bHalos.value
      var curKey: String = null
      var kern: HaloKernel[T, O] = null
      it.map { case ((k, _, _), t) =>
        // a null key is a key: the first row starts a run whatever it is
        if (kern == null || k != curKey) {
          curKey = k
          if (kern == null) kern = mk()
          val (rn0, n) = offs((pid, k))
          kern.reset(rn0, n)
          hls.get((pid, k)).foreach(_.foreach(kern.halo))
        }
        kern.row(t)
      }
    }
  }

  /** Row entering the moment kernel: pre-quantized decimal moments of x
    * (public only because Spark codegen must construct it). Null x
    * arrives as `x = None, c = 0` with the decimals coalesced to ZERO —
    * the kernel never sees a null BigDecimal, and `c` is the
    * prefix-countable "counts toward count(x)" flag. */
  case class Raw(key: String, t: Long, seq: Long, x: Option[Double],
      c: Long, d1: JBig, d2: JBig, d3: JBig)

  /** Kernel output: frame count, exact decimal moment sums (as the same
    * doubles `sum(dec).cast("double")` yields), and the 1-row lag.
    * Matches plain-window null semantics: `n` counts NON-NULL x in the
    * frame, sums are None when the frame holds no non-null x, `prev` is
    * the previous row's x (None when that x is null or no row exists). */
  final case class Moments(key: String, seq: Long, x: Option[Double],
      prev: Option[Double], n: Long,
      s1: Option[Double], s2: Option[Double], s3: Option[Double])

  /** O(h) ring of exact decimal prefix sums — one streaming pass. */
  private final class MomentKernel(lo: Int, hi: Int, h: Int,
      div2: Double, div3: Double) extends HaloKernel[Raw, Moments] {
    private val ring = h + 2 // prefix sums P(i-h-1..i) kept mod `ring`
    private val p1 = new Array[JBig](ring)
    private val p2 = new Array[JBig](ring)
    private val p3 = new Array[JBig](ring)
    private val pc = new Array[Long](ring) // prefix count of NON-NULL x
    private val xs = new Array[Option[Double]](ring) // last x's for `prev`
    private var rn = 0L // per-key global row index of the NEXT row
    private var i = 0L // local index incl. halo (prefix P(i) at slot i%ring)

    def reset(rn0: Long, n: Long): Unit = {
      rn = rn0
      i = 0
      p1(0) = JBig.ZERO; p2(0) = JBig.ZERO; p3(0) = JBig.ZERO; pc(0) = 0L
    }

    private def push(r: Raw): Unit = {
      val s = ((i + 1) % ring).toInt
      val c = (i % ring).toInt
      p1(s) = p1(c).add(r.d1); p2(s) = p2(c).add(r.d2); p3(s) = p3(c).add(r.d3)
      pc(s) = pc(c) + r.c
      xs(s) = r.x
      i += 1
    }

    def halo(r: Raw): Unit = push(r)

    def row(r: Raw): Moments = {
      push(r)
      // this row sits at local prefix index i (P(i) includes it);
      // frame [rn+lo, rn+hi] -> prefix range (i + lo', i + hi'] with
      // clipping at the key's first row (rn = 0)
      val rows = (rn + hi) - math.max(rn + lo, 0L) + 1 // frame size in ROWS
      val prev = if (rn > 0) xs(((i - 1) % ring).toInt) else None
      val m =
        if (rows <= 0) Moments(r.key, r.seq, r.x, prev, 0, None, None, None)
        else {
          val hiP = ((i + hi) % ring).toInt // hi <= 0: within ring
          val loP = ((i + hi - rows) % ring).toInt
          val n = pc(hiP) - pc(loP) // count(x): nulls excluded
          if (n == 0) Moments(r.key, r.seq, r.x, prev, 0, None, None, None)
          else Moments(r.key, r.seq, r.x, prev, n,
            Some(p1(hiP).subtract(p1(loP)).doubleValue),
            Some(p2(hiP).subtract(p2(loP)).doubleValue / div2),
            Some(p3(hiP).subtract(p3(loP)).doubleValue / div3))
        }
      rn += 1
      m
    }
  }

  /** Rolling moments of `xCol` over `rowsBetween(lo, hi)` per `keyCol`,
    * ordered by (`tCol`, `seqCol`). Requires lo <= hi <= 0. Returns
    * columns: key, seq, x, prev (lag 1), n, s1 (Σ dec6(x)), s2 (grid-
    * exact Σx² on the grid2 grid), s3 (grid-exact Σx³ on grid3) — sums
    * as doubles, null when the frame is empty. `numPartitions` defaults
    * to [[SizedPartitions.of]] the input — derived from the estimated
    * input size and capped at spark.sql.shuffle.partitions (this range
    * shuffle is RDD-level, so AQE never right-sizes it; the constant
    * default cost 32 near-empty tasks per stage at sf0.1 — r19).
    */
  def rollingMoments(df: DataFrame, keyCol: String, tCol: String,
      seqCol: String, xCol: String, lo: Int, hi: Int,
      numPartitions: Int = 0,
      scale1: Int = 6, grid2: Double = 1e6, grid3: Double = 1e4): Dataset[Moments] = {
    require(lo <= hi && hi <= 0, s"need lo <= hi <= 0, got [$lo, $hi]")
    val h = math.max(-lo, 1) // look-back depth; >= 1 so `prev` is present
    val spark = df.sparkSession
    import spark.implicits._

    val x = col(xCol)
    def dec(c: org.apache.spark.sql.Column, s: Int) =
      coalesce(c.cast(s"decimal(38,$s)"), lit(0).cast(s"decimal(38,$s)"))
    val dec0 = "decimal(38,0)"
    def pw(g: Double, p: Int) = {
      val q = graft.queries.Det.qfloor(x, g).cast(dec0)
      coalesce((1 until p).foldLeft(q)((acc, _) => acc * q),
        lit(0).cast(dec0))
    }
    val div2 = grid2 * grid2
    val div3 = grid3 * grid3 * grid3
    val base = df.select(
      col(keyCol).cast("string").as("key"),
      col(tCol).cast("long").as("t"),
      col(seqCol).cast("long").as("seq"),
      x.cast("double").as("x"),
      x.isNotNull.cast("long").as("c"),
      dec(x, scale1).as("d1"),
      pw(grid2, 2).as("d2"),
      pw(grid3, 3).as("d3"))

    val p = if (numPartitions > 0) numPartitions else SizedPartitions.of(df)
    val keyed = base.as[Raw].rdd.map(r => ((r.key, r.t, r.seq), r))
    // bounds are sampled from a 3-column projection: the sampling job
    // prunes the parquet scan to (key, t, seq) and skips the decimal
    // moment casts entirely — only the real shuffle pays for them
    val light = df.select(
      col(keyCol).cast("string"), col(tCol).cast("long"), col(seqCol).cast("long"))
      .as[(String, Long, Long)].rdd.map(k => (k, ()))

    val out = haloScan(spark, keyed, light, p, h)(
      () => new MomentKernel(lo, hi, h, div2, div3))
    spark.createDataset(out)
  }
}
