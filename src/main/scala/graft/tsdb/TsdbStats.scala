package graft.tsdb

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** `/api/v1/status/tsdb` — the cardinality-statistics endpoint, THE
  * operational tool for diagnosing label-cardinality explosions (the
  * failure mode that kills real TSDB deployments): top-k series counts
  * per metric name, distinct-value counts per label name, series counts
  * per (label, value) pair, plus corpus totals.
  *
  * Output: one frame `(stat, key, n)` — `totals` rows
  * (`num_series` / `num_samples` / `min_time` / `max_time`) plus the
  * three top-k families, each ranked (n DESC, key ASC — deterministic).
  *
  * Scale shape: ONE distinct over the label columns reduces samples to
  * the series universe (partial-agg, the only sample-sized pass); every
  * statistic then aggregates that series frame or per-label pairs —
  * bounded by series count × labels, never samples. Top-k is a
  * partitioned window over per-stat groups (parallel across stats),
  * never a global sort.
  */
object TsdbStats {

  def headStats(t: TsdbTable, start: Long, end: Long,
                k: Int = 10): DataFrame = {
    val slice = t.select(start, end, Nil)
    val labels = TsdbSchema.labelColumns(slice)
    // four statistic families branch off the series universe — persist
    // it so the sample-sized distinct runs ONCE (without this the plan
    // re-scans and re-distincts per family: 5 scans at 100 TB); the
    // cached frame is series-sized, the cheap thing to hold
    val series = slice
      .select(labels.map(c =>
        nullif(col(s"`$c`"), lit("")).as(c.stripPrefix(TsdbSchema.LabelPrefix))): _*)
      .distinct()
      .persist()
    val names = labels.map(_.stripPrefix(TsdbSchema.LabelPrefix))
    // (label, value) pairs of the series universe, absent labels dropped
    val pairs = series.select(explode(map_from_arrays(
      array(names.map(lit(_)): _*),
      array(names.map(n => col(s"`$n`")): _*))).as(Seq("label", "value")))
      .where(col("value").isNotNull)

    val totals = slice.agg(
      count(lit(1)).as("num_samples"),
      min(col(TsdbSchema.TimeCol)).as("min_time"),
      max(col(TsdbSchema.TimeCol)).as("max_time"))
      .crossJoin(broadcast(series.agg(count(lit(1)).as("num_series"))))
      .select(explode(map(
        lit("num_series"), col("num_series"),
        lit("num_samples"), col("num_samples"),
        lit("min_time"), col("min_time"),
        lit("max_time"), col("max_time"))).as(Seq("key", "n")))
      .select(lit("totals").as("stat"), col("key"), col("n"))

    val byMetric = series
      .groupBy(col(s"`${TsdbSchema.metricLabel(t.df)}`").as("key"))
      .agg(count(lit(1)).as("n"))
      .where(col("key").isNotNull)
      .select(lit("series_count_by_metric_name").as("stat"),
        col("key"), col("n"))
    val valuesByLabel = pairs
      .groupBy(col("label").as("key"))
      .agg(count_distinct(col("value")).as("n"))
      .select(lit("label_value_count_by_label_name").as("stat"),
        col("key"), col("n"))
    val byPair = pairs
      .groupBy(concat(col("label"), lit("="), col("value")).as("key"))
      .agg(count(lit(1)).as("n"))
      .select(lit("series_count_by_label_value_pair").as("stat"),
        col("key"), col("n"))

    val ranked = byMetric.unionByName(valuesByLabel).unionByName(byPair)
      .withColumn("_rk", row_number().over(Window.partitionBy(col("stat"))
        .orderBy(col("n").desc, col("key").asc)))
      .where(col("_rk") <= k)
      .drop("_rk")
    totals.unionByName(ranked)
  }
}
