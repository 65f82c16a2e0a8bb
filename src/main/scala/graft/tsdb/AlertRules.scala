package graft.tsdb

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Alerting-rule evaluation — the Prometheus `rules` engine's batch
  * semantics over this engine's PromQL front end. A rule's expression
  * is an instant query; every element the query returns at an
  * evaluation step is an ACTIVE alert for its label set, `pending`
  * until it has been active CONTINUOUSLY for the rule's `for` duration
  * and `firing` from then on; disappearing from one step resets the
  * clock (Prometheus's resolved-alert rule — a later reappearance is a
  * new pending alert). This synthesizes the `ALERTS{alertname=...,
  * alertstate=pending|firing}` series Prometheus exposes.
  *
  * Batch shape: ONE [[PromQL.evalRange]] pass evaluates the expression
  * at every step (never a loop over steps), then continuity is pure
  * run-length analysis — a lag over (labels) detects run starts, a
  * running sum numbers the runs, a min over (labels, run) yields each
  * alert's `active_at`, and the state is a per-row comparison. Two
  * window passes + the evalRange aggregation itself; everything
  * partitions by the alert's label set, so a 1000-rule × 1M-series
  * deployment parallelizes per (rule, series), no global sort.
  */
object AlertRules {

  /** A rule-group member (rules files hold both kinds). */
  sealed trait Rule

  /** One alerting rule: `alert: <name>  expr: <promql>  for: <forMs>
    * keep_firing_for: <keepFiringForMs>`.
    * `labels` are the rule's extra labels — attached to every alert
    * element, OVERRIDING element labels on conflict (Prometheus rule
    * semantics); `annotations` are notification-template strings,
    * carried verbatim (templating happens at the notifier, not here).
    * `keepFiringForMs` (Prometheus 2.42+): a FIRING element whose
    * condition clears keeps firing — with its original `active_at` —
    * at each evaluation `t` while `t - firstMissedEval <
    * keepFiringForMs`; if the condition returns inside that window the
    * run continues unbroken, else the alert resolves. Pending elements
    * still resolve immediately. */
  final case class AlertRule(name: String, expr: String,
                             forMs: Long,
                             keepFiringForMs: Long = 0L,
                             labels: Map[String, String] = Map.empty,
                             annotations: Map[String, String] = Map.empty)
      extends Rule

  /** One recording rule: `record: <series name>  expr: <promql>` — the
    * expression's per-step elements materialize as NEW samples of the
    * named series, with the rule's `labels` attached (overriding
    * element labels on conflict, as Prometheus does). */
  final case class RecordingRule(record: String, expr: String,
                                 labels: Map[String, String] = Map.empty)
      extends Rule

  /** Attach a rule's literal labels, overriding same-named element
    * labels (bare or `labels.`-prefixed — evalRange emits both shapes
    * depending on the aggregation). Map-side projection only. */
  private def withRuleLabels(df: DataFrame,
                             labels: Map[String, String]): DataFrame =
    labels.foldLeft(df) { case (d, (k, v)) =>
      val pref = TsdbSchema.labelColName(k)
      val name = if (d.columns.contains(pref)) pref else k
      d.withColumn(name, lit(v))
    }

  /** Evaluate a RULE GROUP in order (Prometheus group semantics: rules
    * in one group run sequentially, so a recording rule's output is
    * visible to every LATER rule in the group — the precompute-then-
    * alert idiom). Recorded elements become wide samples: bare label
    * columns re-prefix to `labels.<n>`, the grid step becomes `time`,
    * and the rule's record name lands in the table's metric label
    * ([[TsdbSchema.metricLabel]] of `wide`). Returns (recorded samples,
    * alerts): one frame of every recorded sample and one of every
    * ALERTS row.
    *
    * Scale shape: each rule is ONE evalRange pass; the union feeding
    * later rules is a metadata-only plan union (no shuffle added —
    * later selectors prune to the series they name).
    *
    * `evalRangeFn` is the grid evaluator — [[PromQL.evalRange]] by
    * default; a server with a pushed-native-histogram head passes a
    * per-expression router so a rule over a native metric evaluates on
    * the hist tier instead of silently reading the float tier empty. */
  def evaluateGroup(rules: Seq[Rule], wide: DataFrame, start: Long,
                    end: Long, stepMs: Long, lookbackMs: Long,
                    evalRangeFn: (PromQL.Expr, DataFrame, Long, Long, Long,
                      Long) => DataFrame = PromQL.evalRange)
      : (Option[DataFrame], Option[DataFrame]) = {
    val metric = TsdbSchema.metricLabel(wide)
    var view = wide
    var recorded: Option[DataFrame] = None
    var alerts: Option[DataFrame] = None
    rules.foreach {
      case RecordingRule(record, expr, ruleLabels) =>
        val iv = withRuleLabels(
          evalRangeFn(PromQL.parse(expr), view,
            start, end, stepMs, lookbackMs), ruleLabels)
        require(iv.columns.contains(TsdbSchema.ValueCol) &&
          iv.columns.contains("t"),
          "a recording rule's expression must yield per-step instant vectors")
        // Prometheus recording semantics: the record name REPLACES the
        // metric name (__name__); all other labels carry over
        val labelCols = iv.columns.toSeq.filterNot(NonLabelCols)
          .filterNot(c => c.stripPrefix(TsdbSchema.LabelPrefix) == metric)
        val samples = iv.select(
          lit(record).as(TsdbSchema.labelColName(metric)) +:
            labelCols.map(c =>
              col(s"`$c`").as(TsdbSchema.labelColName(
                c.stripPrefix(TsdbSchema.LabelPrefix)))) ++: Seq(
            col("t").as(TsdbSchema.TimeCol),
            col(TsdbSchema.ValueCol)): _*)
        recorded = Some(recorded.fold(samples)(
          _.unionByName(samples, allowMissingColumns = true)))
        view = view.unionByName(samples, allowMissingColumns = true)
      case a: AlertRule =>
        val out = evaluate(a, view, start, end, stepMs, lookbackMs,
          evalRangeFn)
        alerts = Some(alerts.fold(out)(
          _.unionByName(out, allowMissingColumns = true)))
    }
    (recorded, alerts)
  }

  private val NonLabelCols = Set("t", TsdbSchema.ValueCol,
    TsdbSchema.TimeCol, "bucket", "n")

  /** Materialize [[evaluate]]'s output as the queryable `ALERTS` /
    * `ALERTS_FOR_STATE` series Prometheus synthesizes: one wide sample
    * per (alert element, step) — `ALERTS{alertname, alertstate, <labels>}
    * = 1` and `ALERTS_FOR_STATE{alertname, <labels>} = active_at` (ms
    * here; Prometheus uses seconds — this table's time unit). The whole
    * PromQL surface then runs over alert state like over any metric
    * (`ALERTS{alertstate="firing"}`, `count by (alertname) (ALERTS)`).
    * Map-side projection + plan-metadata union — no shuffle added. */
  def alertsAsSamples(alerts: DataFrame): DataFrame = {
    val labelCols = alerts.columns.toSeq
      .filterNot(Set("alertname", "t", "active_at", "alertstate",
        TsdbSchema.ValueCol))
      // `ALERTS` REPLACES the element's metric name (Prometheus keeps
      // the alert's labels, but __name__ becomes ALERTS)
      .filterNot(c => c.stripPrefix(TsdbSchema.LabelPrefix) == "name")
      .map(c => col(s"`$c`").as(TsdbSchema.labelColName(
        c.stripPrefix(TsdbSchema.LabelPrefix))))
    val common = col("alertname").as(TsdbSchema.labelColName("alertname")) +:
      labelCols
    val active = alerts.select(
      lit("ALERTS").as(TsdbSchema.labelColName("name")) +: common ++: Seq(
        col("alertstate").as(TsdbSchema.labelColName("alertstate")),
        col("t").as(TsdbSchema.TimeCol), lit(1.0).as(TsdbSchema.ValueCol)): _*)
    val forState = alerts.select(
      lit("ALERTS_FOR_STATE").as(TsdbSchema.labelColName("name")) +: common ++: Seq(
        col("t").as(TsdbSchema.TimeCol),
        col("active_at").cast("double").as(TsdbSchema.ValueCol)): _*)
    active.unionByName(forState, allowMissingColumns = true)
  }

  /** Evaluate `rule` on the grid `start + k·step ∈ [start, end]`.
    * Output: `alertname` + the element's label columns + `t` +
    * `active_at` (the run's first active step) + `alertstate`
    * (`pending`/`firing`) + the expression's `value`. */
  def evaluate(rule: AlertRule, wide: DataFrame, start: Long, end: Long,
               stepMs: Long, lookbackMs: Long,
               evalRangeFn: (PromQL.Expr, DataFrame, Long, Long, Long,
                 Long) => DataFrame = PromQL.evalRange): DataFrame = {
    val iv = withRuleLabels(
      evalRangeFn(PromQL.parse(rule.expr), wide, start, end,
        stepMs, lookbackMs), rule.labels)
    require(iv.columns.contains(TsdbSchema.ValueCol) &&
      iv.columns.contains("t"),
      "an alerting rule's expression must yield per-step instant vectors")
    if (rule.keepFiringForMs > 0L)
      return evaluateKeepFiring(rule, iv, end, stepMs)
    val labels = iv.columns.toSeq.filterNot(NonLabelCols)
      .map(c => col(s"`$c`"))
    val series = Window.partitionBy(labels: _*).orderBy(col("t"))
    // a run breaks wherever the element skipped the previous step
    val newRun = when(lag(col("t"), 1).over(series).isNull ||
      lag(col("t"), 1).over(series) =!= col("t") - stepMs, 1L).otherwise(0L)
    val withRun = iv
      .withColumn("_new_run", newRun)
      .withColumn("_run",
        sum(col("_new_run")).over(series.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
    val run = Window.partitionBy(labels :+ col("_run"): _*)
    withRun
      .withColumn("active_at", min(col("t")).over(run))
      .select(lit(rule.name).as("alertname") +: labels ++: Seq(
        col("t"), col("active_at"),
        when(col("t") - col("active_at") >= rule.forMs, "firing")
          .otherwise("pending").as("alertstate"),
        col(TsdbSchema.ValueCol)): _*)
  }

  /** The `keep_firing_for` machine. Unlike the plain run-length shape,
    * keep-firing state is genuinely SEQUENTIAL per element: whether a
    * gap bridges depends on the state at the previous step, which
    * depends on runs merged by earlier bridges — window functions
    * cannot carry that (the classic conditional-reset recurrence), so
    * each element walks its grid in a typed `flatMapGroups` (the batch
    * analog of Structured Streaming's `mapGroupsWithState`, and the
    * same shape Prometheus's own `rules/alerting.go` eval loop has).
    * Scale: ONE shuffle keyed by label set — identical movement to the
    * window path — and per-group work is grid-bounded; emitted gap
    * rows carry the last true-eval value, `active_at` survives bridged
    * gaps (Prometheus keeps `ActiveAt` and resets `KeepFiringSince`
    * when the element returns). */
  private def evaluateKeepFiring(rule: AlertRule, iv: DataFrame,
                                 end: Long, stepMs: Long): DataFrame = {
    val sp = iv.sparkSession
    import sp.implicits._
    val labelNames = iv.columns.toSeq.filterNot(NonLabelCols)
    val slim = iv.select(
      array(labelNames.map(c => col(s"`$c`").cast("string")): _*).as("lv"),
      col("t"), col(TsdbSchema.ValueCol).cast("double").as("v"))
      .as[(Seq[String], Long, Double)]
    val forMs = rule.forMs; val kff = rule.keepFiringForMs
    val walked: org.apache.spark.sql.Dataset[
        (Seq[String], Long, Long, String, Double)] =
      slim.groupByKey(_._1).flatMapGroups { (lv, it) =>
        val present = it.map(r => r._2 -> r._3).toMap
        val lastPresent = present.keys.max
        val out = Seq.newBuilder[(Seq[String], Long, Long, String, Double)]
        var state = 0 // 0 inactive, 1 pending, 2 firing
        var activeAt = 0L; var keepSince = -1L; var lastV = 0.0
        var t = present.keys.min
        while (t <= end && (t <= lastPresent || state == 2)) {
          present.get(t) match {
            case Some(v) =>
              if (state == 0) activeAt = t
              keepSince = -1L
              state = if (t - activeAt >= forMs) 2 else 1
              lastV = v
              out += ((lv, t, activeAt,
                if (state == 2) "firing" else "pending", v))
            case None =>
              if (state == 2) {
                if (keepSince < 0L) keepSince = t
                // rules/alerting.go keeps firing while
                // ts.Sub(KeepFiringSince) < keepFiringFor — STRICT: the
                // boundary step (elapsed == keep_firing_for) resolves,
                // so the extra firing lasts exactly the configured
                // window (AlertExemplarSpec pins the expiry step)
                if (t - keepSince < kff)
                  out += ((lv, t, activeAt, "firing", lastV))
                else { state = 0; keepSince = -1L }
              } else state = 0
          }
          t += stepMs
        }
        out.result().iterator
      }
    walked.toDF("lv", "t", "active_at", "alertstate", TsdbSchema.ValueCol)
      .select(lit(rule.name).as("alertname") +:
        labelNames.zipWithIndex.map { case (c, i) =>
          element_at(col("lv"), i + 1).as(c) } ++: Seq(
        col("t"), col("active_at"), col("alertstate"),
        col(TsdbSchema.ValueCol)): _*)
  }
}
