package graft.ops
import graft.core.Ckpt._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Physical-layout utilities for the 100 TB design point (SURVEY.md §2
  * "Partitioning & shuffle"): bucketed co-located joins, skew salting,
  * partition-local sort.
  *
  * These are the knobs the reference solved with B-tree indexes and a
  * single sequential process (`sql/init.sql:45-47`); on Spark the
  * equivalents are table LAYOUT (bucketing ≈ join index), SALT (skew
  * spreading), and partition-aware writes.
  */
object Partitioning {

  /** Write a table bucketed+sorted by the join key. Two tables bucketed the
    * same way join WITHOUT a shuffle on either side (verified in
    * PartitioningSpec by asserting the executed plan has no Exchange) —
    * the Spark analogue of the reference's location-id B-trees. */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    nBuckets: Int = 8): Unit =
    df.write
      .bucketBy(nBuckets, key)
      .sortBy(key)
      .format("parquet")
      .mode("overwrite")
      .saveAsTable(table)

  /** Skew-spreading join: FACT side gets a row-local salt in [0, n);
    * DIM side is replicated n× with every salt value; the join key becomes
    * (key, salt), so one hot key spreads over n reducers. Result set is
    * identical to the unsalted join (checked by property test).
    *
    * Use when AQE's skew-join splitting isn't available/enough (e.g. a
    * hot-100 key in a 100 TB fact table). `saltSource` defaults to a
    * per-row pseudo-random derived from all fact columns — deterministic
    * for a given row content, no RNG state. */
  def saltedEquiJoin(fact: DataFrame, dim: DataFrame, key: String,
                     nSalts: Int = 16, saltSource: Option[Column] = None)
      : DataFrame = {
    val salt = saltSource.getOrElse(
      pmod(xxhash64(struct(fact.columns.map(col).toSeq: _*)), lit(nSalts)))
    val saltedFact = fact.withColumn("__salt", salt)
    val saltedDim = dim
      .withColumn("__salt", explode(expr(s"sequence(0, ${nSalts - 1})")))
      .withColumn("__salt", col("__salt").cast("bigint"))
    saltedFact.join(saltedDim, Seq(key, "__salt")).drop("__salt")
  }

  /** Partition-local sort (no global shuffle) — e.g. to lay out parquet
    * row groups by a pruning key within each partition. */
  def sortWithin(df: DataFrame, cols: String*): DataFrame =
    df.sortWithinPartitions(cols.map(col): _*)

  /** Range-partition + global sort layout for write-time clustering. */
  def clusterBy(df: DataFrame, n: Int, cols: String*): DataFrame =
    df.repartitionByRange(n, cols.map(col): _*)
      .sortWithinPartitions(cols.map(col): _*)

  /** Two-dimensional Z-order clustering: each column is min-max normalized
    * to a 16-bit bucket ordinal, the Morton interleave of the two ordinals
    * (`functions.InterleaveBits`, codegen'd) becomes the layout key, and
    * rows are range-partitioned + sorted by it. Files then tile the
    * (a, b) plane in rectangles, so parquet footer min/max stats prune on
    * EITHER column (~√selectivity of the files), where `clusterBy(a)`
    * prunes only on `a`. The min/max fetch is one 1-row aggregate —
    * bounded driver traffic at any scale, same class as the quality-filter
    * cutoff broadcast.
    *
    * Numeric/date columns only (anything castable to double). NULL ordinals
    * sort first (bucket -1), keeping NULL rows co-located, not dropped. */
  def clusterByZOrder(df: DataFrame, n: Int, colA: String, colB: String)
      : DataFrame = {
    // date/timestamp keys go through an epoch-number view first (DATE has
    // no direct double cast; NTZ reuses the session-UTC instant)
    def num(c: String): Column = df.schema(c).dataType match {
      case org.apache.spark.sql.types.DateType => unix_date(col(c)).cast("double")
      case org.apache.spark.sql.types.TimestampNTZType =>
        col(c).cast("timestamp_ltz").cast("double")
      case _ => col(c).cast("double")
    }
    val bounds = df.agg(
      min(num(colA)).as("mna"), max(num(colA)).as("mxa"),
      min(num(colB)).as("mnb"), max(num(colB)).as("mxb")).head()
    // an all-NULL column yields NULL bounds → every ordinal hits the
    // coalesce(-1) arm; 0.0 here just keeps the arithmetic well-defined
    def b(i: Int): Double = if (bounds.isNullAt(i)) 0.0 else bounds.getDouble(i)
    def ordinal(c: String, mn: Double, mx: Double): Column = {
      val scaled =
        if (mx > mn) ((num(c) - lit(mn)) / lit(mx - mn) * lit(65535.0))
        else lit(0.0)
      coalesce(scaled.cast("int"), lit(-1))
    }
    df.withColumn("__za", ordinal(colA, b(0), b(1)))
      .withColumn("__zb", ordinal(colB, b(2), b(3)))
      .withColumn("__zkey", expr("interleave_bits(__za, __zb)"))
      .repartitionByRange(n, col("__zkey"))
      .sortWithinPartitions(col("__zkey"))
      .drop("__za", "__zb", "__zkey")
  }

  /** Hilbert-curve variant of [[clusterByZOrder]]: identical ordinal
    * normalization (14-bit here — hilbert_index's grid order), but the
    * sort key is the Hilbert distance (functions/Hilbert.scala). The
    * curve has NO diagonal jumps, so each range-partitioned file covers
    * a contiguous curve segment whose bounding box is tighter in the
    * worst case than the Morton tiling's — the layout the lakehouse
    * engines ship as HILBERT clustering. */
  def clusterByHilbert(df: DataFrame, n: Int, colA: String, colB: String)
      : DataFrame = {
    def num(c: String): Column = df.schema(c).dataType match {
      case org.apache.spark.sql.types.DateType => unix_date(col(c)).cast("double")
      case org.apache.spark.sql.types.TimestampNTZType =>
        col(c).cast("timestamp_ltz").cast("double")
      case _ => col(c).cast("double")
    }
    val bounds = df.agg(
      min(num(colA)).as("mna"), max(num(colA)).as("mxa"),
      min(num(colB)).as("mnb"), max(num(colB)).as("mxb")).head()
    def b(i: Int): Double = if (bounds.isNullAt(i)) 0.0 else bounds.getDouble(i)
    def ordinal(c: String, mn: Double, mx: Double): Column = {
      val scaled =
        if (mx > mn) ((num(c) - lit(mn)) / lit(mx - mn) * lit(16383.0))
        else lit(0.0)
      coalesce(scaled.cast("int"), lit(-1))
    }
    df.withColumn("__ha", ordinal(colA, b(0), b(1)))
      .withColumn("__hb", ordinal(colB, b(2), b(3)))
      .withColumn("__hkey", expr("hilbert_index(__ha, __hb)"))
      .repartitionByRange(n, col("__hkey"))
      .sortWithinPartitions(col("__hkey"))
      .drop("__ha", "__hb", "__hkey")
  }

  /** Distributed prefix sum: cumulative `valueCol` in global `order`,
    * WITHOUT the single-partition global window (`Window.orderBy` with no
    * partitionBy funnels every row through one task — the classic scale
    * cliff for running totals / Pareto analyses over large entity sets).
    *
    * Classic two-level scan instead:
    *   1. range-partition + locally sort by `order` (global order across
    *      partition ids, parallel within);
    *   2. per-partition cumulative sums via a window PARTITIONED by the
    *      physical partition id — fully parallel;
    *   3. per-partition totals (≤ n rows) get their own exclusive prefix
    *      sum — the only sequential window, over n rows, not the data —
    *      and broadcast-join back as offsets.
    *
    * The sorted frame is localCheckpoint'd so the two consumers (rows,
    * offsets) share ONE materialization — otherwise the range partitioner
    * could resample different bounds per consumer and misalign the ids.
    *
    * Exactness: integer value columns stay exact under the reordered
    * additions; for floating-point inputs the result can differ from a
    * sequential sum in the last ulp (document at the call site). */
  def rankedCumSum(df: DataFrame, valueCol: Column, order: Seq[Column],
                   n: Int, outCol: String): DataFrame =
    rankedCumSumMulti(df, Seq(valueCol -> outCol), order, n)

  /** [[rankedCumSum]] over SEVERAL value columns in ONE two-level pass:
    * one range partition + local sort, one per-partition window (all the
    * running sums share the frame), one ≤n-row offsets aggregate carrying
    * every measure. A k-measure cumsum as k sequential calls would pay
    * the repartition/sort/checkpoint k times over a frame that only grows
    * wider each call — agg_ks_test's two ECDFs are the motivating case. */
  def rankedCumSumMulti(df: DataFrame, measures: Seq[(Column, String)],
                        order: Seq[Column], n: Int): DataFrame = {
    require(measures.nonEmpty, "need at least one (valueCol, outCol)")
    val sorted = df
      .repartitionByRange(n, order: _*)
      .sortWithinPartitions(order: _*)
      .withColumn("__pid", spark_partition_id())
      .ckpt()
    val localWin = Window.partitionBy(col("__pid")).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offWin = Window.orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val idx = measures.indices
    val offsets = sorted.groupBy(col("__pid"))
      .agg(sum(measures.head._1).as("__psum0"),
        measures.tail.zipWithIndex.map { case ((c, _), i) =>
          sum(c).as(s"__psum${i + 1}") }: _*)
      .select(col("__pid").as("__opid") +:
        idx.map(i => coalesce(sum(col(s"__psum$i")).over(offWin), lit(0))
          .as(s"__off$i")): _*)
    val withLocal = idx.foldLeft(sorted) { case (acc, i) =>
      acc.withColumn(s"__local$i", sum(measures(i)._1).over(localWin))
    }
    val joined = withLocal.join(broadcast(offsets), col("__pid") === col("__opid"))
    idx.foldLeft(joined) { case (acc, i) =>
        acc.withColumn(measures(i)._2, col(s"__local$i") + col(s"__off$i"))
      }
      .drop("__pid" :: "__opid" ::
        idx.flatMap(i => Seq(s"__local$i", s"__off$i")).toList: _*)
  }

  /** [[rankedCumSumMulti]] that ALSO hands back its internally
    * checkpointed range-sorted frame (r15): callers that need totals (or
    * any other whole-frame statistic) next to the cumsums used to
    * checkpoint their aggregate separately and feed it in — two
    * materializations of the same rows. The returned `sorted` frame is
    * the ONE checkpoint both legs share; it carries the caller's columns
    * (the `__pid` partition tag is dropped).
    *
    * NOTE (measured at two SFs, r15): callers should aggregate BEFORE
    * this kernel, not fuse the aggregate into the range exchange — a
    * raw-row range shuffle beats hash-agg + range only when the key is
    * near-unique in every map partition. At sf1 (and any larger scale,
    * where value domains saturate) the hash aggregate's partial,
    * map-side reduction compacts ~10:1 and wins: agg_ks_test measured
    * 2.8 s aggregate-first vs 5.1 s raw-range-fused at sf1, while sf0.1
    * (no compaction) preferred fused by 0.2 s. Scale wins. */
  def rankedCumSumMultiShared(df: DataFrame, measures: Seq[(Column, String)],
                              order: Seq[Column], n: Int)
      : (DataFrame, DataFrame) = {
    require(measures.nonEmpty, "need at least one (valueCol, outCol)")
    val sorted = df
      .repartitionByRange(n, order: _*)
      .sortWithinPartitions(order: _*)
      .withColumn("__pid", spark_partition_id())
      .ckpt()
    val localWin = Window.partitionBy(col("__pid")).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offWin = Window.orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val idx = measures.indices
    val offsets = sorted.groupBy(col("__pid"))
      .agg(sum(measures.head._1).as("__psum0"),
        measures.tail.zipWithIndex.map { case ((c, _), i) =>
          sum(c).as(s"__psum${i + 1}") }: _*)
      .select(col("__pid").as("__opid") +:
        idx.map(i => coalesce(sum(col(s"__psum$i")).over(offWin), lit(0))
          .as(s"__off$i")): _*)
    val withLocal = idx.foldLeft(sorted) { case (acc, i) =>
      acc.withColumn(s"__local$i", sum(measures(i)._1).over(localWin))
    }
    val cum = idx.foldLeft(
        withLocal.join(broadcast(offsets), col("__pid") === col("__opid"))) {
        case (acc, i) =>
          acc.withColumn(measures(i)._2, col(s"__local$i") + col(s"__off$i"))
      }
      .drop("__pid" :: "__opid" ::
        idx.flatMap(i => Seq(s"__local$i", s"__off$i")).toList: _*)
    (cum, sorted.drop("__pid"))
  }

  /** Distributed DENSE ROW NUMBERING over a total order — the
    * [[rankedCumSum]] two-level shape applied to row_number (VERDICT r9
    * #4: replaces the only data-sized unpartitioned window in the tree,
    * Normalize.withTripId's deterministic path). Range-partition on the
    * order keys, per-partition local row_number (parallel), then ONE
    * ≤n-row prefix-count aggregate broadcast back as per-partition
    * offsets. Same contiguous 1..N numbering a global
    * `row_number().over(Window.orderBy(...))` yields — without funneling
    * the data through a single task. Rows tied on ALL order keys get an
    * arbitrary-but-valid order within the tie group, exactly like the
    * global window. */
  def rankedRowNumber(df: DataFrame, order: Seq[Column], n: Int,
                      outCol: String, eager: Boolean = true): DataFrame = {
    // eager = false defers the lineage-cut materialization into the first
    // consuming job (the sorted frame is still computed exactly once —
    // offsets and rows read the same checkpointed RDD); callers ranking a
    // large frame consumed by a single downstream action (ml_conformal's
    // calibration scores) save the extra blocking materialization job
    val sorted = df
      .repartitionByRange(n, order: _*)
      .sortWithinPartitions(order: _*)
      .withColumn("__pid", spark_partition_id())
      .ckpt(eager)
    val localWin = Window.partitionBy(col("__pid")).orderBy(order: _*)
    val offWin = Window.orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = sorted.groupBy(col("__pid"))
      .agg(count(lit(1)).as("__pc"))
      .select(col("__pid").as("__opid"),
        coalesce(sum(col("__pc")).over(offWin), lit(0L)).as("__off"))
    sorted
      .withColumn("__local", row_number().over(localWin).cast("long"))
      .join(broadcast(offsets), col("__pid") === col("__opid"))
      .withColumn(outCol, col("__local") + col("__off"))
      .drop("__pid", "__opid", "__local", "__off")
  }

  /** Distributed running MINIMUM over a total order — the prefix-min
    * sibling of [[rankedCumSum]], same two-level shape: parallel
    * per-partition running mins, then one sequential prefix-min over the
    * ≤n partition minima (bounded by the partition count, never
    * data-sized), broadcast back and folded in with null-skipping
    * `least`. With `inclusive = false` the frame excludes the current
    * row — `outCol` is then min over STRICTLY-preceding rows and NULL
    * for the global first row (the shape dominance tests need: with one
    * row per key, "preceding in order" = "strictly smaller key"). */
  def rankedRunningMin(df: DataFrame, valueCol: Column, order: Seq[Column],
                       n: Int, outCol: String,
                       inclusive: Boolean = true): DataFrame = {
    val sorted = df
      .repartitionByRange(n, order: _*)
      .sortWithinPartitions(order: _*)
      .withColumn("__pid", spark_partition_id())
      .ckpt()
    val hi = if (inclusive) Window.currentRow else -1L
    val localWin = Window.partitionBy(col("__pid")).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, hi)
    val offsets = sorted.groupBy(col("__pid")).agg(min(valueCol).as("__pmin"))
      .withColumn("__off",
        min(col("__pmin")).over(
          Window.orderBy(col("__pid"))
            .rowsBetween(Window.unboundedPreceding, -1)))
      .select(col("__pid").as("__opid"), col("__off"))
    sorted
      .withColumn("__local", min(valueCol).over(localWin))
      .join(broadcast(offsets), col("__pid") === col("__opid"))
      .withColumn(outCol, least(col("__local"), col("__off")))
      .drop("__pid", "__opid", "__local", "__off")
  }
}
