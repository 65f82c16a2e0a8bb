package graft.tsdb

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** PromQL-flavored range-vector aggregates over the wide TSDB table —
  * the query layer the reference was building toward ("Querying Apache
  * Parquet files with PromQL" is its title; the PromQL layer was never
  * reached, README.md:125). Each function evaluates per series over
  * tumbling `stepMs` buckets: one groupBy on (labels, bucket), partial-
  * aggregated map-side, so the shuffle carries one row per
  * (series, bucket) — not per sample.
  *
  * Determinism with duplicate timestamps: first/last are defined by the
  * lexicographic (time, value) order — `min/max` over a 2-element array
  * — which both Spark and the DuckDB oracle total-order identically
  * (time < 2^53, so the double cast is exact).
  */
object RangeVectors {

  /** PromQL instant-vector evaluation: for each series, the most recent
    * sample in the lookback window ending at `at` (Prometheus's staleness
    * rule: a series with no sample in the window drops out of the
    * vector). One partial-aggregated groupBy; with the time-sorted
    * storage layout the scan itself is pruned to the window, so the cost
    * at 100 TB is ∝ one lookback window of data, not history.
    *
    * Duplicate-timestamp ties resolve by lexicographic (time, value) max
    * — same total order as [[overTime]], replayed identically by the
    * oracle.
    *
    * Staleness: a NULL value is the staleness-marker representation
    * ([[TsdbSchema.isStaleMarker]]); when the most recent in-window
    * sample is a marker the series drops out of the vector (Prometheus's
    * explicit-staleness rule). Array ordering puts a NULL element first,
    * so at an equal timestamp a real sample still wins the max. */
  def instant(wide: DataFrame, at: Long, lookbackMs: Long): DataFrame = {
    val labels = TsdbSchema.dynCols(wide)
    val tv: Column = array(col(TsdbSchema.TimeCol).cast("double"), col(TsdbSchema.ValueCol))
    wide
      .where(col(TsdbSchema.TimeCol) > at - lookbackMs &&
        col(TsdbSchema.TimeCol) <= at)
      .groupBy(labels: _*)
      .agg(
        max(col(TsdbSchema.TimeCol)).as("time"),
        max(tv).getItem(1).as("value"))
      // degenerate no-label-column table + empty window: groupBy() is a
      // GLOBAL agg and would emit one all-null row — an empty vector has
      // no series, so drop it; a null VALUE is a winning staleness
      // marker — that series has been explicitly ended, drop it too
      .where(col("time").isNotNull && col("value").isNotNull)
  }

  /** PromQL `increase()` with counter-reset handling: per series, sum of
    * consecutive-sample deltas where a negative delta (counter reset)
    * contributes the new raw value instead (Prometheus's reset rule).
    * One window pass (lag over series-partitioned, time-ordered rows) +
    * one aggregation — both partial-shuffle-friendly; the window's sort
    * is free on time-sorted storage partitions.
    *
    * Duplicate timestamps: ordered by (time, value) so the lag sequence
    * is a total order both engines replay identically. */
  def increase(wide: DataFrame): DataFrame = {
    val labels = TsdbSchema.dynCols(wide)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(labels: _*)
      .orderBy(col(TsdbSchema.TimeCol).asc, col(TsdbSchema.ValueCol).asc)
    val d = col(TsdbSchema.ValueCol) - lag(col(TsdbSchema.ValueCol), 1).over(w)
    wide
      .withColumn("d",
        when(d.isNull, lit(0.0)) // first sample of a series: no delta
          .when(d < 0, col(TsdbSchema.ValueCol)) // counter reset
          .otherwise(d))
      .groupBy(labels: _*)
      .agg(count(lit(1)).as("n"), round(sum(col("d")), 6).as("increase"))
  }

  private def bucketCol(stepMs: Long): Column =
    (floor(col(TsdbSchema.TimeCol) / stepMs.toDouble) * stepMs).cast("long")

  /** PromQL `resets()` / `changes()` per (series, bucket): the number of
    * decreasing / differing consecutive-sample pairs WITHIN the bucket
    * (the range-vector window — the first sample of a bucket is not
    * compared across the boundary, matching PromQL's per-window scan).
    * One window pass partitioned by (series, bucket) + one partial-agg
    * groupBy on the same keys — the window sort is (time, value), free
    * on time-sorted storage partitions. */
  def resetsChanges(wide: DataFrame, stepMs: Long): DataFrame = {
    val labels = TsdbSchema.dynCols(wide)
    val b = wide.withColumn("bucket", bucketCol(stepMs))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(labels :+ col("bucket"): _*)
      .orderBy(col(TsdbSchema.TimeCol).asc, col(TsdbSchema.ValueCol).asc)
    val v = col(TsdbSchema.ValueCol)
    b.withColumn("prev", lag(v, 1).over(w))
      .groupBy(labels :+ col("bucket"): _*)
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("prev").isNotNull && v < col("prev"), 1L)
          .otherwise(0L)).as("resets"),
        sum(when(col("prev").isNotNull && v =!= col("prev"), 1L)
          .otherwise(0L)).as("changes"))
  }

  /** PromQL `rate()`/`increase()` per (series, bucket) WITH counter-reset
    * handling (unlike [[overTime]]'s simplified gauge rate): per-bucket
    * sum of consecutive deltas where a negative delta contributes the new
    * raw value, divided by the observed span. Rate is computed from the
    * ROUNDED increase so the oracle divides identical literals. No
    * boundary extrapolation (PromQL's xrate debate — we take the
    * observed-span definition). */
  def rate(wide: DataFrame, stepMs: Long): DataFrame = {
    val labels = TsdbSchema.dynCols(wide)
    val b = wide.withColumn("bucket", bucketCol(stepMs))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(labels :+ col("bucket"): _*)
      .orderBy(col(TsdbSchema.TimeCol).asc, col(TsdbSchema.ValueCol).asc)
    val v = col(TsdbSchema.ValueCol)
    val d = v - lag(v, 1).over(w)
    val spanSec = (max(col(TsdbSchema.TimeCol)) - min(col(TsdbSchema.TimeCol))) / 1000.0
    b.withColumn("d",
        when(d.isNull, lit(0.0)).when(d < 0, v).otherwise(d))
      .groupBy(labels :+ col("bucket"): _*)
      .agg(count(lit(1)).as("n"), round(sum(col("d")), 6).as("increase"),
        spanSec.as("span_sec"))
      .withColumn("rate_v",
        round(col("increase") / nullif(col("span_sec"), lit(0.0)), 6))
  }

  /** PromQL `irate()`/`idelta()` per (series, bucket): the delta of the
    * LAST TWO samples in the window, over their own time gap. Buckets
    * with fewer than two samples drop out (PromQL needs two points).
    * Same single (series, bucket) shuffle: the asc lag and the desc
    * row_number share one partitioning, so this is two sorts but one
    * exchange. */
  def irate(wide: DataFrame, stepMs: Long): DataFrame = {
    val labels = TsdbSchema.dynCols(wide)
    val b = wide.withColumn("bucket", bucketCol(stepMs))
    val part = labels :+ col("bucket")
    // ONE ascending ordering serves lag, row_number, and the partition
    // count — "last row" is rn == cnt over the SAME sort, so duplicate
    // (time, value) ties can't pick inconsistent rows the way an
    // opposite-order row_number would (ties order arbitrarily but
    // consistently within a single window sort)
    val wAsc = org.apache.spark.sql.expressions.Window
      .partitionBy(part: _*)
      .orderBy(col(TsdbSchema.TimeCol).asc, col(TsdbSchema.ValueCol).asc)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(part: _*)
    val v = col(TsdbSchema.ValueCol)
    b.withColumn("prev_v", lag(v, 1).over(wAsc))
      .withColumn("prev_t", lag(col(TsdbSchema.TimeCol), 1).over(wAsc))
      .withColumn("rn", row_number().over(wAsc))
      .withColumn("cnt", count(lit(1)).over(wAll))
      .where(col("rn") === col("cnt") && col("prev_v").isNotNull)
      .select(labels :+ col("bucket") :+
        round(v - col("prev_v"), 6).as("idelta") :+
        round(
          when(v >= col("prev_v"), v - col("prev_v")).otherwise(v) /
            nullif((col(TsdbSchema.TimeCol) - col("prev_t")) / 1000.0, lit(0.0)), 6)
          .as("irate_v"): _*)
  }

  /** PromQL `deriv()` / `predict_linear()`: least-squares slope of value
    * over time-in-seconds per (series, bucket), and the extrapolated
    * value `horizonMs` past the bucket end. One partial-aggregated
    * groupBy (regr_* are plain declarative aggregates). Buckets where
    * the regression is undefined (single sample / zero time variance)
    * yield NULL in both engines. */
  def deriv(wide: DataFrame, stepMs: Long, horizonMs: Long): DataFrame = {
    val labels = TsdbSchema.dynCols(wide)
    val v = col(TsdbSchema.ValueCol)
    val tSec = col(TsdbSchema.TimeCol) / 1000.0
    wide
      .groupBy(labels :+ bucketCol(stepMs).as("bucket"): _*)
      .agg(
        count(lit(1)).as("n"),
        regr_slope(v, tSec).as("_s"),
        regr_intercept(v, tSec).as("_i"))
      .select(labels ++ Seq(col("bucket"), col("n"),
        round(col("_s"), 6).as("deriv"),
        round(col("_i") + col("_s") *
          ((col("bucket") + lit(stepMs + horizonMs)) / 1000.0), 4)
          .as("predicted")): _*)
  }

  /** `quantile_over_time` (exact interpolated percentiles) plus
    * sum/stddev_over_time per (series, bucket) — one partial-aggregated
    * groupBy; floats rounded at output for portability. */
  def quantileOverTime(wide: DataFrame, stepMs: Long): DataFrame = {
    val labels = TsdbSchema.dynCols(wide)
    val v = col(TsdbSchema.ValueCol)
    wide
      .groupBy(labels :+ bucketCol(stepMs).as("bucket"): _*)
      .agg(
        count(lit(1)).as("n"),
        round(expr(s"percentile(${TsdbSchema.ValueCol}, 0.5)"), 4).as("p50_v"),
        round(expr(s"percentile(${TsdbSchema.ValueCol}, 0.9)"), 4).as("p90_v"),
        round(sum(v), 4).as("sum_v"),
        // single-sample buckets: Spark yields NaN (0/0), DuckDB NULL —
        // make the NULL explicit so both engines agree
        when(count(lit(1)) > 1, round(stddev_samp(v), 4)).as("stddev_v"))
  }

  /** avg/min/max/count_over_time + delta + rate per (series, bucket). */
  def overTime(wide: DataFrame, stepMs: Long): DataFrame = {
    val labels = TsdbSchema.dynCols(wide)
    val bucket = (floor(col(TsdbSchema.TimeCol) / stepMs.toDouble) * stepMs)
      .cast("long").as("bucket")
    val tv: Column = array(col(TsdbSchema.TimeCol).cast("double"), col(TsdbSchema.ValueCol))
    val firstV = min(tv).getItem(1)
    val lastV = max(tv).getItem(1)
    val spanSec = (max(col(TsdbSchema.TimeCol)) - min(col(TsdbSchema.TimeCol))) / 1000.0
    wide
      .groupBy(labels :+ bucket: _*)
      .agg(
        count(lit(1)).as("n"),
        round(avg(col(TsdbSchema.ValueCol)), 6).as("avg_v"),
        min(col(TsdbSchema.ValueCol)).as("min_v"),
        max(col(TsdbSchema.ValueCol)).as("max_v"),
        round(lastV - firstV, 6).as("delta"),
        // rate ≡ delta / elapsed-seconds within the bucket (simplified:
        // no PromQL boundary extrapolation, no counter-reset handling —
        // gauges/monotone-in-bucket counters only)
        round((lastV - firstV) / nullif(spanSec, lit(0.0)), 6).as("rate"))
  }

  /** Single-statistic `*_over_time` per (series, bucket), exposed as
    * `value` — the COMPOSABLE form the PromQL front end uses: the
    * output is a valid instant vector (labels + `value`) with `bucket`
    * as an implicit grouping/match key, so aggregation operators,
    * binary ops and value maps consume it like any other vector.
    * `last`/`first` tie-break duplicate timestamps by value (the
    * engine-wide total order); `stddev`/`stdvar` are POPULATION
    * moments — Prometheus's `*_over_time` definition, unlike the
    * SAMPLE `stddev by` aggregation operator (a single-sample window
    * is 0, not NULL, in both engines); `delta` is last − first (the
    * engine's documented no-extrapolation rate family); `present` is
    * the constant 1. One partial-aggregated groupBy — no window pass. */
  def overTimeStat(wide: DataFrame, stepMs: Long, stat: String): DataFrame = {
    val labels = TsdbSchema.dynCols(wide)
    wide.groupBy(labels :+ bucketCol(stepMs).as("bucket"): _*)
      .agg(statAgg(stat).as(TsdbSchema.ValueCol))
  }

  /** Exact interpolated `quantile_over_time(q, v[w])` as a single-value
    * vector (the text front end's form; [[quantileOverTime]] keeps the
    * fixed p50/p90 report shape for the programmatic surface). */
  def overTimeQuantile(wide: DataFrame, stepMs: Long, q: Double): DataFrame = {
    val labels = TsdbSchema.dynCols(wide)
    wide.groupBy(labels :+ bucketCol(stepMs).as("bucket"): _*)
      .agg(round(expr(s"percentile(${TsdbSchema.ValueCol}, $q)"), 6)
        .as(TsdbSchema.ValueCol))
  }

  /** The statistic → aggregate mapping shared by the tumbling and
    * sliding single-value kernels (and PromQL subqueries, whose time
    * axis is the grid column `t` rather than the sample time). */
  private[tsdb] def statAgg(stat: String,
                            timeCol: String = TsdbSchema.TimeCol): Column = {
    val v = col(TsdbSchema.ValueCol)
    val tv: Column = array(col(timeCol).cast("double"), v)
    stat match {
      case "min" => min(v)
      case "max" => max(v)
      case "sum" => round(sum(v), 6)
      case "avg" => round(avg(v), 6)
      case "count" => count(lit(1)).cast("double")
      case "last" => max(tv).getItem(1)
      case "first" => min(tv).getItem(1)
      case "present" => max(lit(1.0))
      case "stddev" => round(stddev_pop(v), 6)
      case "stdvar" => round(var_pop(v), 6)
      case "delta" => round(max(tv).getItem(1) - min(tv).getItem(1), 6)
      // ts_of_{max,min,last}_over_time: the TIMESTAMP (epoch seconds)
      // of the extreme/last sample. Ties on value: max keeps the LAST
      // max, min the LAST min — Prometheus's >=/<= scan order,
      // reproduced order-free via lexicographic array extremes (the
      // -time trick flips the tie direction for min)
      case "ts_of_last" => max(tv).getItem(0) / 1000.0
      case "ts_of_first" => min(tv).getItem(0) / 1000.0
      case "ts_of_max" =>
        max(array(v, col(timeCol).cast("double"))).getItem(1) / 1000.0
      case "ts_of_min" =>
        -min(array(v, -col(timeCol).cast("double"))).getItem(1) / 1000.0
      case "mad" =>
        // median absolute deviation around the interpolated median
        // (Prometheus mad_over_time = quantile(0.5) of |x − q(0.5)|).
        // ONE sorted value buffer per window feeds both medians — a
        // single aggregation pass, no second shuffle; buffer size is
        // bounded by the window's sample count, the same bound
        // quantile_over_time's percentile buffer already carries.
        // The buffer is BOUND ONCE through a 1-element transform lambda
        // so every median reference reads the materialized array
        // (element_at, O(1)) — referencing the sort_array(collect_list)
        // subtree directly inside the deviation lambda would re-sort
        // the buffer per element (O(n² log n) per window)
        val arr = sort_array(collect_list(v))
        def med(a: Column): Column = {
          val n = size(a)
          (element_at(a, floor((n + 1) / 2.0).cast("int")) +
            element_at(a, floor(n / 2.0 + 1).cast("int"))) / 2.0
        }
        round(element_at(transform(array(arr), buf =>
          med(array_sort(transform(buf, x => abs(x - med(buf)))))), 1), 6)
      case other => throw new IllegalArgumentException(
        s"unknown over-time statistic '$other'")
    }
  }

  // ---- sliding-window (query_range) kernels ----
  //
  // Prometheus `query_range` evaluates the expression at every grid
  // timestamp t_i = start + i·step over its OWN window ending at t_i —
  // consecutive windows overlap whenever range > step. The scale shape
  // here: per-series state (consecutive-pair deltas, samples) is
  // computed ONCE in one series-partitioned pass, then each row fans
  // out to the ≤ ceil(range/step) grid points whose window covers it
  // (an explode of small longs, not of payloads), and one partial-agg
  // groupBy on (series, t) finishes. Cost is samples × overlap factor —
  // the inherent work of sliding windows — never a re-scan per step.

  /** Grid-index bounds [iLo, iHi] for a row covering evaluation
    * timestamps t ∈ [coverLo, coverHi] (inclusive ms) on the grid
    * t_i = startMs + i·stepMs, i ∈ [0, nSteps]. The double quotients
    * are exact enough to ceil/floor portably: magnitudes < 2^53 and a
    * non-integer quotient sits ≥ 1/stepMs from the nearest integer,
    * orders of magnitude beyond one ulp — Spark and DuckDB round
    * identically. */
  private[tsdb] def gridIdx(coverLo: Column, coverHi: Column, startMs: Long,
                            stepMs: Long, nSteps: Long): (Column, Column) = {
    val stepD = stepMs.toDouble
    (greatest(lit(0L), ceil((coverLo - startMs) / stepD).cast("long")),
      least(lit(nSteps), floor((coverHi - startMs) / stepD).cast("long")))
  }

  /** Per-step instant vectors: for every grid timestamp t, each series'
    * most recent sample in (t - lookbackMs, t] (the `query_range`
    * analogue of [[instant]]). A sample at ts covers the grid points in
    * [ts, ts + lookback); series with no sample in a window drop out of
    * that step's vector (staleness). Output adds the evaluation
    * timestamp column `t`. */
  def slidingInstant(wide: DataFrame, lookbackMs: Long, stepMs: Long,
                     startMs: Long, endMs: Long): DataFrame = {
    val labels = TsdbSchema.dynCols(wide)
    val nSteps = (endMs - startMs) / stepMs
    val tv: Column = array(col(TsdbSchema.TimeCol).cast("double"),
      col(TsdbSchema.ValueCol))
    val (iLo, iHi) = gridIdx(col(TsdbSchema.TimeCol),
      col(TsdbSchema.TimeCol) + (lookbackMs - 1), startMs, stepMs, nSteps)
    wide
      .where(col(TsdbSchema.TimeCol) > startMs - lookbackMs &&
        col(TsdbSchema.TimeCol) <= endMs)
      .withColumn("_ilo", iLo).withColumn("_ihi", iHi)
      // sequence(a, b) counts DOWN when b < a — rows covering no grid
      // point must be dropped, not exploded
      .where(col("_ilo") <= col("_ihi"))
      .withColumn("_i", explode(sequence(col("_ilo"), col("_ihi"))))
      .withColumn("t", lit(startMs) + col("_i") * stepMs)
      .groupBy(labels :+ col("t"): _*)
      .agg(max(col(TsdbSchema.TimeCol)).as("time"),
        max(tv).getItem(1).as("value"))
      // a null winner is a staleness marker: the series is ended at
      // every grid point the marker is the latest sample for
      .where(col("value").isNotNull)
  }

  /** Sliding-window `rate()`/`increase()` with counter-reset handling:
    * for every grid timestamp t, the reset-adjusted increase over
    * (t - rangeMs, t] divided by the observed span. Decomposition: the
    * delta between a consecutive sample pair is the same in every
    * window that contains BOTH endpoints (windows are intervals, so a
    * pair is in-window iff prev_t and time are), so pairs are built
    * once per series and fanned out to the grid points in
    * [time, prev_t + range); per (series, t): increase = Σd, span =
    * Σgap = last - first (the in-window pairs chain contiguously).
    * Windows with < 2 samples have no pair and drop out, matching
    * PromQL's two-point requirement. Same observed-span, no-boundary-
    * extrapolation definition as the tumbling [[rate]]. */
  def slidingRate(wide: DataFrame, rangeMs: Long, stepMs: Long,
                  startMs: Long, endMs: Long): DataFrame = {
    val labels = TsdbSchema.dynCols(wide)
    val nSteps = (endMs - startMs) / stepMs
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(labels: _*)
      .orderBy(col(TsdbSchema.TimeCol).asc, col(TsdbSchema.ValueCol).asc)
    val v = col(TsdbSchema.ValueCol)
    val d0 = v - lag(v, 1).over(w)
    // prefiltering to (start - range, end] BEFORE the lag is safe:
    // every window is a subinterval of it, and by interval convexity a
    // pair consecutive in the prefiltered series is consecutive in any
    // window containing both endpoints — and the filter reaches the scan
    val pairs = wide
      .where(col(TsdbSchema.TimeCol) > startMs - rangeMs &&
        col(TsdbSchema.TimeCol) <= endMs)
      .withColumn("prev_t", lag(col(TsdbSchema.TimeCol), 1).over(w))
      .withColumn("d", when(d0 < 0, v).otherwise(d0)) // counter reset
      .where(col("prev_t").isNotNull)
    val (iLo, iHi) = gridIdx(col(TsdbSchema.TimeCol),
      col("prev_t") + (rangeMs - 1), startMs, stepMs, nSteps)
    pairs
      .withColumn("_ilo", iLo).withColumn("_ihi", iHi)
      .where(col("_ilo") <= col("_ihi"))
      .withColumn("_i", explode(sequence(col("_ilo"), col("_ihi"))))
      .withColumn("t", lit(startMs) + col("_i") * stepMs)
      .groupBy(labels :+ col("t"): _*)
      .agg((count(lit(1)) + 1).as("n"), // pairs + 1 = samples in window
        round(sum(col("d")), 6).as("increase"),
        (sum(col(TsdbSchema.TimeCol) - col("prev_t")) / 1000.0).as("span_sec"))
      .withColumn("rate_v",
        round(col("increase") / nullif(col("span_sec"), lit(0.0)), 6))
      .drop("span_sec")
  }

  /** Prometheus's boundary extrapolation (promql extrapolatedRate): the
    * observed increase is scaled from the sampled interval
    * [firstT, lastT] out to the window edges — fully when the edge gap
    * is under 1.1× the average sample spacing, by half a spacing
    * otherwise, and never past the counter's zero point. All inputs are
    * per-window aggregates, so the formula is one deterministic scalar
    * expression replayable by the SQL oracle (incr arrives ROUNDED so
    * both engines scale identical literals). The result is NOT rounded
    * here — Prometheus doesn't, and a caller multiplying the rate
    * (e.g. `xrate(...)  * 25 * 60`) would amplify a kernel round into
    * visible error; oracle-facing queries round at their edge. */
  private[tsdb] def extrapolated(incr: Column, pairs: Column,
                                 firstT: Column,
                                 lastT: Column, firstV: Column,
                                 rangeStart: Column, rangeEnd: Column,
                                 rangeMs: Long, asRate: Boolean,
                                 counter: Boolean = true): Column = {
    val sampled = nullif((lastT - firstT).cast("double"), lit(0.0))
    val avg = sampled / pairs
    val thresh = avg * 1.1
    val ds0 = (firstT - rangeStart).cast("double")
    val de0 = (rangeEnd - lastT).cast("double")
    val ds1 = when(ds0 >= thresh, avg / 2.0).otherwise(ds0)
    // a counter that started at firstV cannot extrapolate below zero —
    // gauges (xdelta) skip the clamp, exactly as promql's
    // extrapolatedRate gates it on isCounter
    val dz = sampled * (firstV / incr)
    val ds =
      if (!counter) ds1
      else when(incr > 0.0 && firstV >= 0.0 && dz < ds1, dz).otherwise(ds1)
    val de = when(de0 >= thresh, avg / 2.0).otherwise(de0)
    val factor0 = (sampled + ds + de) / sampled
    val factor = if (asRate) factor0 / (rangeMs / 1000.0) else factor0
    incr * factor
  }

  /** The five per-window aggregates [[extrapolated]] consumes — ONE
    * definition shared by every xrate call site (tumbling, sliding,
    * and both subquery modes in PromQL), parameterized on the pair
    * columns so the _first_v tie rule can never silently diverge. */
  private[tsdb] def xRateAggs(prevT: Column, curT: Column,
                              prevV: Column, d: Column): Seq[Column] = Seq(
    count(lit(1)).as("_pairs"),
    round(sum(d), 6).as("_incr"),
    min(prevT).as("_first_t"),
    max(curT).as("_last_t"),
    min(array(prevT.cast("double"), prevV)).getItem(1).as("_first_v"))

  /** Tumbling `xrate()`/`xincrease()`: the Prometheus-EXACT extrapolated
    * rate/increase per (series, `[duration]` bucket) — counter resets
    * handled pairwise, then [[extrapolated]] scales to the bucket edges
    * [bucket, bucket + range). One window pass for the pairs + one
    * partial-aggregated groupBy, the same shape as the plain kernels. */
  def xRate(wide: DataFrame, stepMs: Long, asRate: Boolean,
            counter: Boolean = true): DataFrame = {
    val labels = TsdbSchema.dynCols(wide)
    val v = col(TsdbSchema.ValueCol)
    // bucket is materialized as an ATTRIBUTE before the window so the
    // window partitioning, and then the groupBy on the same keys, hash
    // on the same attributes — one exchange end-to-end. (Partitioning
    // on the floor() expression directly defeats exchange reuse: each
    // Window re-shuffles.) Both lags live in ONE select → one Window.
    val withB = wide.withColumn("bucket", bucketCol(stepMs))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(labels :+ col("bucket"): _*)
      .orderBy(col(TsdbSchema.TimeCol).asc, v.asc)
    val d0 = v - col("prev_v")
    val agg = withB
      .select(withB.columns.map(c => col(s"`$c`")) ++ Seq(
        lag(col(TsdbSchema.TimeCol), 1).over(w).as("prev_t"),
        lag(v, 1).over(w).as("prev_v")): _*)
      .withColumn("d", if (counter) when(d0 < 0, v).otherwise(d0) else d0)
      .where(col("prev_t").isNotNull)
      .groupBy(labels :+ col("bucket"): _*)
      .agg(xRateAggs(col("prev_t"), col(TsdbSchema.TimeCol),
        col("prev_v"), col("d")).head,
        xRateAggs(col("prev_t"), col(TsdbSchema.TimeCol),
          col("prev_v"), col("d")).tail: _*)
    agg
      .withColumn(TsdbSchema.ValueCol, extrapolated(col("_incr"),
        col("_pairs"), col("_first_t"), col("_last_t"), col("_first_v"),
        col("bucket"), col("bucket") + stepMs, stepMs, asRate, counter))
      .select(labels ++ Seq(col("bucket"), col(TsdbSchema.ValueCol)): _*)
  }

  /** Sliding `xrate()`/`xincrease()`: [[xRate]]'s Prometheus-exact
    * extrapolation per grid timestamp over (t − range, t] — the
    * [[pairFanOut]] decomposition (pairs built once, fanned to covering
    * grid points), one (series, t) aggregation. */
  def slidingXRate(wide: DataFrame, rangeMs: Long, stepMs: Long,
                   startMs: Long, endMs: Long, asRate: Boolean,
                   counter: Boolean = true): DataFrame = {
    val labels = TsdbSchema.dynCols(wide)
    val v = col(TsdbSchema.ValueCol)
    val d0 = v - col("prev_v")
    val agg = pairFanOut(wide, rangeMs, stepMs, startMs, endMs)
      .withColumn("d", if (counter) when(d0 < 0, v).otherwise(d0) else d0)
      .groupBy(labels :+ col("t"): _*)
      .agg(xRateAggs(col("prev_t"), col(TsdbSchema.TimeCol),
        col("prev_v"), col("d")).head,
        xRateAggs(col("prev_t"), col(TsdbSchema.TimeCol),
          col("prev_v"), col("d")).tail: _*)
    agg
      .withColumn(TsdbSchema.ValueCol, extrapolated(col("_incr"),
        col("_pairs"), col("_first_t"), col("_last_t"), col("_first_v"),
        col("t") - rangeMs, col("t"), rangeMs, asRate, counter))
      .select(labels ++ Seq(col("t"), col(TsdbSchema.ValueCol)): _*)
  }

  /** The sliding fan-out skeleton shared by the single-value kernels:
    * prefilter to (start − range, end] (reaches the scan), explode each
    * sample to the grid points in [time, time + range), attach `t`.
    * Cost = samples × overlap factor, never a re-scan per step. */
  private def sampleFanOut(wide: DataFrame, rangeMs: Long, stepMs: Long,
                           startMs: Long, endMs: Long): DataFrame = {
    val nSteps = (endMs - startMs) / stepMs
    val (iLo, iHi) = gridIdx(col(TsdbSchema.TimeCol),
      col(TsdbSchema.TimeCol) + (rangeMs - 1), startMs, stepMs, nSteps)
    wide
      .where(col(TsdbSchema.TimeCol) > startMs - rangeMs &&
        col(TsdbSchema.TimeCol) <= endMs)
      .withColumn("_ilo", iLo).withColumn("_ihi", iHi)
      .where(col("_ilo") <= col("_ihi"))
      .withColumn("_i", explode(sequence(col("_ilo"), col("_ihi"))))
      .withColumn("t", lit(startMs) + col("_i") * stepMs)
  }

  /** Per-pair sliding fan-out: consecutive-sample pairs (built once per
    * series, one window pass) exploded to the grid points whose window
    * contains BOTH endpoints — the [[slidingRate]] decomposition, shared
    * by the pair statistics (changes/resets/idelta/irate). */
  private def pairFanOut(wide: DataFrame, rangeMs: Long, stepMs: Long,
                         startMs: Long, endMs: Long): DataFrame = {
    val labels = TsdbSchema.dynCols(wide)
    val nSteps = (endMs - startMs) / stepMs
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(labels: _*)
      .orderBy(col(TsdbSchema.TimeCol).asc, col(TsdbSchema.ValueCol).asc)
    val pairs = wide
      .where(col(TsdbSchema.TimeCol) > startMs - rangeMs &&
        col(TsdbSchema.TimeCol) <= endMs)
      .withColumn("prev_t", lag(col(TsdbSchema.TimeCol), 1).over(w))
      .withColumn("prev_v", lag(col(TsdbSchema.ValueCol), 1).over(w))
      .where(col("prev_t").isNotNull)
    val (iLo, iHi) = gridIdx(col(TsdbSchema.TimeCol),
      col("prev_t") + (rangeMs - 1), startMs, stepMs, nSteps)
    pairs
      .withColumn("_ilo", iLo).withColumn("_ihi", iHi)
      .where(col("_ilo") <= col("_ihi"))
      .withColumn("_i", explode(sequence(col("_ilo"), col("_ihi"))))
      .withColumn("t", lit(startMs) + col("_i") * stepMs)
  }

  /** Sliding single-statistic `*_over_time` — [[overTimeStat]]'s
    * semantics per grid timestamp t over (t − range, t], as `value`. */
  def slidingStat(wide: DataFrame, rangeMs: Long, stepMs: Long,
                  startMs: Long, endMs: Long, stat: String): DataFrame = {
    val labels = TsdbSchema.dynCols(wide)
    sampleFanOut(wide, rangeMs, stepMs, startMs, endMs)
      .groupBy(labels :+ col("t"): _*)
      .agg(statAgg(stat).as(TsdbSchema.ValueCol))
  }

  /** Sliding exact `quantile_over_time(q, v[w])`. */
  def slidingQuantile(wide: DataFrame, rangeMs: Long, stepMs: Long,
                      startMs: Long, endMs: Long, q: Double): DataFrame = {
    val labels = TsdbSchema.dynCols(wide)
    sampleFanOut(wide, rangeMs, stepMs, startMs, endMs)
      .groupBy(labels :+ col("t"): _*)
      .agg(round(expr(s"percentile(${TsdbSchema.ValueCol}, $q)"), 6)
        .as(TsdbSchema.ValueCol))
  }

  /** Sliding `changes()` / `resets()`: differing / decreasing
    * consecutive pairs among the samples in each window. */
  def slidingPairCount(wide: DataFrame, rangeMs: Long, stepMs: Long,
                       startMs: Long, endMs: Long, stat: String): DataFrame = {
    val labels = TsdbSchema.dynCols(wide)
    val v = col(TsdbSchema.ValueCol)
    val hit = stat match {
      case "changes" => v =!= col("prev_v")
      case "resets" => v < col("prev_v")
    }
    pairFanOut(wide, rangeMs, stepMs, startMs, endMs)
      .groupBy(labels :+ col("t"): _*)
      .agg(sum(when(hit, 1.0).otherwise(0.0)).as(TsdbSchema.ValueCol))
  }

  /** Sliding `idelta()` / `irate()`: the LAST consecutive pair in each
    * window — `max_by` over the (time, value)-ordered pair set.
    * `idelta` is the raw delta; `irate` applies the counter-reset rule
    * over the pair's own gap. */
  def slidingIstat(wide: DataFrame, rangeMs: Long, stepMs: Long,
                   startMs: Long, endMs: Long, stat: String): DataFrame = {
    val labels = TsdbSchema.dynCols(wide)
    val v = col(TsdbSchema.ValueCol)
    val d = v - col("prev_v")
    val pick = stat match {
      case "idelta" => d
      case "irate" =>
        when(d >= 0, d).otherwise(v) /
          nullif((col(TsdbSchema.TimeCol) - col("prev_t")) / 1000.0, lit(0.0))
    }
    // the pair ordered last by (time, value) — the same total order every
    // window kernel uses, so duplicate timestamps pick consistently
    val ord = struct(col(TsdbSchema.TimeCol), v)
    pairFanOut(wide, rangeMs, stepMs, startMs, endMs)
      .groupBy(labels :+ col("t"): _*)
      .agg(round(max_by(pick, ord), 6).as(TsdbSchema.ValueCol))
  }

  /** Sliding `deriv()` / `predict_linear(v[w], horizon)`: least-squares
    * slope over each window; with a horizon, the extrapolated value at
    * t + horizon (Prometheus anchors the prediction at the evaluation
    * timestamp). Windows with an undefined regression yield NULL. */
  def slidingDeriv(wide: DataFrame, rangeMs: Long, stepMs: Long,
                   startMs: Long, endMs: Long,
                   horizonMs: Option[Long]): DataFrame = {
    val labels = TsdbSchema.dynCols(wide)
    val v = col(TsdbSchema.ValueCol)
    val tSec = col(TsdbSchema.TimeCol) / 1000.0
    val g = sampleFanOut(wide, rangeMs, stepMs, startMs, endMs)
      .groupBy(labels :+ col("t"): _*)
      .agg(regr_slope(v, tSec).as("_s"), regr_intercept(v, tSec).as("_i"))
    val out = horizonMs match {
      case None => round(col("_s"), 6)
      case Some(h) =>
        round(col("_i") + col("_s") * ((col("t") + h) / 1000.0), 4)
    }
    g.select(labels ++ Seq(col("t"), out.as(TsdbSchema.ValueCol)): _*)
  }

  /** PromQL `holt_winters(v[w], sf, tf)` — double exponential smoothing
    * per (series, bucket): level seeded with v₀, trend with v₁−v₀, then
    * for each subsequent sample
    * `level' = sf·x + (1−sf)·(level+trend); trend' = tf·(level'−level)
    * + (1−tf)·trend`. The recursion is inherently sequential per window,
    * so it runs as a codegen'd `aggregate` fold over the per-bucket
    * sorted sample array — one groupBy shuffle carrying one array per
    * (series, bucket), no iterative jobs, no driver loop. Buckets with a
    * single sample are dropped (PromQL needs ≥ 2). `tfC` must be passed
    * as its complement too, so both engines fold with the same literal
    * (never a computed 1−tf). Sort order (time, value) totalizes
    * duplicate timestamps identically to every other window here. */
  def holtWinters(wide: DataFrame, stepMs: Long,
                  sf: Double, sfC: Double, tf: Double, tfC: Double): DataFrame = {
    val labels = TsdbSchema.dynCols(wide)
    val grouped = hwGroup(
      wide.withColumn("bucket", bucketCol(stepMs).as("bucket")),
      labels :+ col("bucket"))
    hwSelect(grouped, labels :+ col("bucket"), sf, sfC, tf, tfC)
  }

  /** Sliding holt_winters / double_exponential_smoothing: the same
    * sequential fold per OVERLAPPING window — samples fan out to the
    * grid points whose (t − range, t] window contains them, then one
    * (series, t) aggregation collects each window's ordered values.
    * Cost is samples × overlap factor, like every sliding kernel. */
  def slidingHoltWinters(wide: DataFrame, rangeMs: Long, stepMs: Long,
                         startMs: Long, endMs: Long, sf: Double,
                         sfC: Double, tf: Double, tfC: Double): DataFrame = {
    val labels = TsdbSchema.dynCols(wide)
    val grouped = hwGroup(
      sampleFanOut(wide, rangeMs, stepMs, startMs, endMs),
      labels :+ col("t"))
    hwSelect(grouped, labels :+ col("t"), sf, sfC, tf, tfC)
  }

  private[tsdb] def hwGroup(rows: DataFrame, keys: Seq[Column]): DataFrame = {
    val tv: Column = array(col(TsdbSchema.TimeCol).cast("double"),
      col(TsdbSchema.ValueCol))
    rows.groupBy(keys: _*)
      .agg(array_sort(collect_list(tv)).as("tvs"))
      .withColumn("vs", transform(col("tvs"), x => element_at(x, 2)))
      .where(size(col("vs")) >= 2)
  }

  private[tsdb] def hwSelect(grouped: DataFrame, keys: Seq[Column], sf: Double,
                       sfC: Double, tf: Double, tfC: Double): DataFrame = {
    val v1 = element_at(col("vs"), 1)
    val v2 = element_at(col("vs"), 2)
    val init = struct(v1.as("level"), (v2 - v1).as("trend"))
    val folded = aggregate(
      slice(col("vs"), lit(2), size(col("vs")) - 1),
      init,
      (acc, x) => {
        // level' appears twice; recomputed with the identical op sequence,
        // so the oracle's lambda (which cannot bind intermediates) matches
        val level2 = lit(sf) * x + lit(sfC) * (acc.getField("level") + acc.getField("trend"))
        struct(level2.as("level"),
          (lit(tf) * (level2 - acc.getField("level")) +
            lit(tfC) * acc.getField("trend")).as("trend"))
      })
    grouped.select(keys :+
      size(col("vs")).cast("long").as("n") :+
      round(folded.getField("level"), 6).as("hw"): _*)
  }
}
