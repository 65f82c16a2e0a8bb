package graft.tsdb

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import PromQL.{AggBy, AggWithout, AtAnchor, AtEnd, AtMs, AtStart, BinOp,
  Expr, Fn, LimitRatio, RankK, ScalarLit, Selector, Subquery}

/** PromQL over NATIVE-HISTOGRAM series — the text front end for the
  * [[NativeHistogram]] struct tier, closing the loop the scaladoc of
  * [[PromQL]] documents: the float tier never carries histogram-typed
  * samples (the reference is ValFloat-only, hello.go:490), so
  * histogram-valued queries evaluate HERE, over a frame of whole
  * histograms.
  *
  * Input frame: wide label columns (`labels.<k>`) + `time` (epoch ms)
  * + `hist` (the `{count, sum, les, counts}` struct one
  * [[NativeHistogram.build]]/`buildExp` row carries) — a
  * native-histogram TIME SERIES, one snapshot per (series, time).
  * `nLes` is the frame's bucket-array length (les size, +Inf included),
  * fixed per frame by construction — it lets every element-wise merge
  * unroll to partial-aggregatable per-index sums instead of shuffling
  * whole arrays.
  *
  * Supported grammar (the canonical Prometheus dashboard shape
  * `histogram_quantile(0.9, sum by (le-less labels) (rate(m[5m])))`):
  *   - instant selector `m{...}` (offset/@ respected) → latest
  *     histogram per series. STALENESS follows the float tier's
  *     contract (`TsdbSchema`): a NULL `hist` struct ≡ the staleness
  *     marker — instant lookback ENDS a series at it (latest-in-window
  *     NULL excludes the series), rate/increase selections skip it;
  *   - `rate(sel[d])` / `increase(sel[d])` — tumbling `[d]` buckets,
  *     per-pair reset-aware histogram deltas (a decrease in ANY bucket
  *     or in count marks a counter reset, and the pair contributes the
  *     post-reset histogram — Prometheus's detectReset over every
  *     consecutive pair, not just window endpoints), summed per bucket;
  *     rate divides by the observed span (the engine's documented
  *     rate definition; same contract as [[RangeVectors.rate]]);
  *   - `sum [by|without (...)] (v)` — histogram merge
  *     (element-wise bucket sums, partial-aggregated);
  *     `avg [by|without (...)] (v)` — merge scaled by series count;
  *     `count [by|without (...)] (v)` — a FLOAT vector (series count);
  *   - `sum_over_time/avg_over_time/last_over_time(sel[d])` — the
  *     range folds over whole histograms: merge / scaled merge /
  *     latest snapshot, on the same tumbling (instant) or sliding
  *     (range-mode) window contract as rate;
  *   - `v + v` / `v - v` — element-wise histogram add/subtract under
  *     PromQL one-to-one matching: default (full label sets minus the
  *     metric name), `on(keys)` or `ignoring(keys)`; `group_*`
  *     modifiers between histograms are unsupported and error loudly;
  *   - `count_over_time(sel[d])` — snapshots per window, a FLOAT
  *     vector;
  *   - `v * s`, `s * v`, `v / s` — scalar scaling of every additive
  *     component;
  *   - terminal scalar functions producing float vectors:
  *     `histogram_quantile(q, v)`, `histogram_fraction(lo, hi, v)`,
  *     `histogram_count/sum/avg/stddev/stdvar(v)`.
  *
  * Float RESULTS re-enter the float tier's own kernels: `sum/max/…
  * by|without (…)` and `topk/bottomk/limitk` over any float-evaluable
  * shape ([[PromQL.aggFrame]]/[[PromQL.rankFrame]]), SUBQUERIES over
  * float-evaluable inner expressions (the float tier's absolute-grid
  * fold machinery with this tier as the inner evaluator — the SLO
  * shape `max_over_time(histogram_quantile(0.9, rate(m[5m]))[1h:5m])`),
  * plus the presence primitives
  * `absent`/`absent_over_time`/`present_over_time` and
  * `count_over_time`/`delta`.
  *
  * `__name__` flows as in Prometheus: selectors and `last_over_time`
  * keep it; rate/increase, the other over-time folds, arithmetic,
  * aggregation and the histogram_* functions drop it. The name is the
  * input frame's [[TsdbSchema.metricLabel]].
  *
  * Unsupported composition (grouped group_left/group_right matching
  * between histograms, rank over HISTOGRAM vectors, subqueries whose
  * INNER expression is histogram-valued) raises a clear error instead
  * of silently treating the struct as a float; the HTTP router
  * surfaces it as a 422, never an empty 200.
  *
  * Scale shape: the selector is a pruned scan; rate is ONE window pass
  * (lag over series-partitioned, time-ordered snapshots) + ONE
  * partial-aggregatable groupBy whose exchange carries (series ×
  * buckets) structs, never samples; merges are single aggregations over
  * fixed-width arrays; the scalar functions are per-row folds over a
  * ≤ few-dozen-element array. No joins anywhere.
  */
object PromQLHist {
  import TsdbSchema.{TimeCol, labelCol, labelColName, metricLabel}

  /** The histogram struct column every frame carries. */
  val HistCol = "hist"

  /** Terminal functions: histogram vector in, FLOAT vector out. */
  val ScalarFns: Set[String] = Set(
    "histogram_quantile", "histogram_fraction", "histogram_count",
    "histogram_sum", "histogram_avg", "histogram_stddev",
    "histogram_stdvar")

  /** Whether this tier evaluates `e` to a FLOAT vector (the response
    * shape the standard endpoints carry): a terminal scalar function, a
    * count aggregation, or vector-scalar arithmetic/comparison over
    * such a result — the shape of every histogram ALERT
    * (`histogram_quantile(0.99, rate(h[5m])) > 0.5`). The HTTP routing
    * gate (and the rules tier) pairs this with the per-selector
    * native-metric check. */
  /** Whether this tier evaluates `e` to a HISTOGRAM vector (the shape
    * the API's `histogram`/`histograms` result fields carry): a bare
    * instant selector, rate/increase over a range selector, or sum/avg
    * aggregation of such — every shape [[eval]]/[[evalRange]] answers
    * with a `hist`-column frame. The HTTP layer pairs this with the
    * per-selector native-metric routing gate, exactly like
    * [[floatEvaluable]]. */
  def histEvaluable(e: Expr): Boolean = e match {
    case Selector(_, None, _, _) => true
    case Fn("rate" | "increase", Selector(_, Some(_), _, _), _) => true
    // range folds over whole histograms (Prometheus: sum_over_time
    // merges, avg_over_time merges and scales, last_over_time picks,
    // delta is the GAUGE-histogram form — last − first, no reset fold)
    case Fn("sum_over_time" | "avg_over_time" | "last_over_time" |
            "first_over_time" | "delta",
            Selector(_, Some(_), _, _), _) => true
    case AggBy("sum" | "avg", _, arg, None) => histEvaluable(arg)
    case AggWithout("sum" | "avg", _, arg, None) => histEvaluable(arg)
    // hist ± hist under one-to-one matching — default, `on(keys)` or
    // `ignoring(keys)`; a group_left/group_right modifier between
    // histograms is routed to the caller's unsupported-shape error,
    // never a silent empty
    case BinOp("+" | "-", _, l, r, false, "", _, Seq())
        if !l.isInstanceOf[ScalarLit] && !r.isInstanceOf[ScalarLit] =>
      histEvaluable(l) && histEvaluable(r)
    // hist × scalar / hist ÷ scalar (scalar ÷ hist is not a histogram
    // in Prometheus either — excluded)
    case BinOp("*", _, l, ScalarLit(_), false, _, _, _) => histEvaluable(l)
    case BinOp("*", _, ScalarLit(_), r, false, _, _, _) => histEvaluable(r)
    case BinOp("/", _, l, ScalarLit(_), false, _, _, _) => histEvaluable(l)
    // hist × float-VECTOR / hist ÷ float-VECTOR under one-to-one
    // matching (`native_latency / on(instance) scrape_count` — the
    // per-instance normalization every capacity dashboard draws):
    // histArith's keyed join with histScale as the combine. `*`
    // commutes; `float ÷ hist` is not a histogram and stays excluded.
    case BinOp("*", _, l, r, false, "", _, Seq())
        if histEvaluable(l) && floatEvaluable(r) => true
    case BinOp("*", _, l, r, false, "", _, Seq())
        if floatEvaluable(l) && histEvaluable(r) => true
    case BinOp("/", _, l, r, false, "", _, Seq())
        if histEvaluable(l) && floatEvaluable(r) => true
    // HISTOGRAM-valued SUBQUERY inners under the merge folds —
    // `sum_over_time(rate(native[5m])[30m:5m])`: the inner evaluates
    // once on the subquery's absolute-aligned grid, then the grid
    // histograms merge (sum), merge and scale (avg) or pick (last)
    // per series. Rank/statistic folds over histograms stay excluded
    // (max of histograms is undefined) and error loudly.
    case Fn("sum_over_time" | "avg_over_time" | "last_over_time",
            Subquery(inner, _, _, _, _), _) => histEvaluable(inner)
    // limitk / limit_ratio: value-agnostic series SAMPLING — valid
    // over histogram vectors (Prometheus skips hists only in the
    // value-ranking topk/bottomk, which stay excluded); rows survive
    // unchanged
    case RankK("limitk", _, arg, _, _) => histEvaluable(arg)
    case LimitRatio(_, arg) => histEvaluable(arg)
    // set ops BETWEEN histogram vectors: membership by label identity,
    // value-agnostic — `native_a or native_b` is the metric-rename
    // migration fallback; `unless` the suppression pattern
    case PromQL.SetOp(_, _, l, r, _) =>
      histEvaluable(l) && histEvaluable(r)
    case _ => false
  }

  def floatEvaluable(e: Expr): Boolean = e match {
    case f: Fn if ScalarFns(f.name) => true
    // count_over_time over histogram series counts SNAPSHOTS — a float
    // vector (Prometheus's semantics over native-histogram series)
    case Fn("count_over_time", Selector(_, Some(_), _, _), _) => true
    // the sample-TIMESTAMP extractors are float-valued over histogram
    // series too (Prometheus: the timestamp of the latest/earliest
    // sample, regardless of kind)
    case Fn("ts_of_last_over_time" | "ts_of_first_over_time",
            Selector(_, Some(_), _, _), _) => true
    // the alerting primitives: absent/absent_over_time synthesize a
    // `{…} 1` row exactly when the hist head matched nothing;
    // present_over_time is per-series window presence. Routing these
    // here matters doubly: the float tier would answer absent(native)
    // = 1 for a metric that EXISTS (its store has no series for it)
    case Fn("absent", arg, _) => histEvaluable(arg)
    case Fn("absent_over_time" | "present_over_time",
            Selector(_, Some(_), _, _), _) => true
    // SUBQUERIES over a float-evaluable inner expression — the
    // canonical SLO fold `max_over_time(histogram_quantile(0.9,
    // rate(native[5m]))[1h:5m])`: the float tier's subquery grid
    // machinery with THIS tier as the inner evaluator
    // count_over_time over a HISTOGRAM-valued subquery inner counts
    // the inner's grid points per series — a float vector (the same
    // snapshots-not-values contract as count_over_time over a range
    // selector). MUST precede the generic SubqueryFns case: that one
    // also matches count_over_time and would answer false for a
    // histogram-valued inner, shadowing this shape into the router's
    // 422 (round-17 review find).
    case Fn("count_over_time", Subquery(inner, _, _, _, _), _)
        if histEvaluable(inner) => true
    case Fn(name, Subquery(inner, _, _, _, _), _)
        if PromQL.SubqueryFns(name) => floatEvaluable(inner)
    // limit_ratio over a FLOAT result re-enters the float tier's
    // hash-band kernel (`limit_ratio(0.5, histogram_count(m))`)
    case LimitRatio(_, arg) => floatEvaluable(arg)
    // value maps / sort over a float result — `clamp(histogram_quantile
    // (0.9, m), 0, 10)`, `sort(histogram_count(m))`, the wall-clock
    // family. absent has its own dispatch above; scalar/vector change
    // the result TYPE and stay float-tier-only.
    case Fn(name, arg, _)
        if PromQL.InstantFns(name) && name != "absent" &&
          name != "scalar" && name != "vector" => floatEvaluable(arg)
    // set ops BETWEEN float results: membership by label identity
    // (`histogram_count(a) and on(user) histogram_count(b)`)
    case PromQL.SetOp(_, _, l, r, _) =>
      floatEvaluable(l) && floatEvaluable(r)
    // count of a HISTOGRAM vector = series count (a float vector)...
    case AggBy("count", _, arg, None) if histEvaluable(arg) => true
    case AggWithout("count", _, arg, None) if histEvaluable(arg) => true
    // ...and any float aggregation / rank over a FLOAT result re-enters
    // the float tier's own kernels: `sum(histogram_count(native))`,
    // `topk(3, histogram_quantile(0.9, rate(native[5m])))`, …
    case AggBy(_, _, arg, _) => floatEvaluable(arg)
    case AggWithout(_, _, arg, _) => floatEvaluable(arg)
    case RankK(_, _, arg, _, _) => floatEvaluable(arg)
    case BinOp(_, _, l, ScalarLit(_), _, _, _, _) => floatEvaluable(l)
    case BinOp(_, _, ScalarLit(_), r, _, _, _, _) => floatEvaluable(r)
    case _ => false
  }

  /** Prometheus-EXACT instant evaluation over a native-histogram frame
    * (the `query` API's hist-tier entry): every un-anchored range
    * selector pins `@ at`, so each range function evaluates ONE window
    * `(at − offset − range, at − offset]` per series — the twin of
    * [[PromQL.evalStrict]]. Without the rewrite, an instant-endpoint
    * `rate(native[5m])` would select over the empty `(at, at)` data
    * window and silently answer nothing. [[eval]] remains the
    * batch-report path (explicit data window, tumbling buckets). */
  def evalStrict(expr: Expr, hists: DataFrame, at: Long, lookbackMs: Long,
                 nLes: Int): DataFrame =
    eval(PromQL.anchorRanges(expr, at), hists, at, lookbackMs,
      start = at, end = at, nLes = nLes)

  /** Evaluate a parsed expression against a native-histogram frame.
    *
    * @param at         evaluation instant (epoch ms) for instant vectors
    * @param lookbackMs staleness lookback for instant vectors
    * @param start/end  exclusive window rate/increase bucket over
    * @param nLes       bucket-array length of the frame's histograms
    *                   (les size, +Inf included)
    * @return a float vector frame (labels [+bucket] + `value`) for the
    *         terminal scalar functions and `count`; a histogram vector
    *         frame (labels [+bucket] + `hist`) otherwise
    */
  def eval(expr0: Expr, hists: DataFrame, at: Long, lookbackMs: Long,
           start: Long, end: Long, nLes: Int): DataFrame = {
    // Prometheus text-surface regex semantics (see PromQL.anchorSelectors)
    val expr = PromQL.anchorSelectors(expr0)
    expr match {
    case Fn("histogram_quantile", arg, params) =>
      scalarize(evalH(arg, hists, at, lookbackMs, start, end, nLes),
        h => NativeHistogram.histQuantile(h, params.head))
    case Fn("histogram_fraction", arg, Seq(lo, hi)) =>
      scalarize(evalH(arg, hists, at, lookbackMs, start, end, nLes),
        h => NativeHistogram.histFraction(h, lit(lo), lit(hi)))
    case Fn("histogram_count", arg, _) =>
      scalarize(evalH(arg, hists, at, lookbackMs, start, end, nLes),
        NativeHistogram.histCount)
    case Fn("histogram_sum", arg, _) =>
      scalarize(evalH(arg, hists, at, lookbackMs, start, end, nLes),
        NativeHistogram.histSum)
    case Fn("histogram_avg", arg, _) =>
      scalarize(evalH(arg, hists, at, lookbackMs, start, end, nLes),
        NativeHistogram.histAvg)
    case Fn("histogram_stddev", arg, _) =>
      scalarize(evalH(arg, hists, at, lookbackMs, start, end, nLes),
        NativeHistogram.histStddev)
    case Fn("histogram_stdvar", arg, _) =>
      scalarize(evalH(arg, hists, at, lookbackMs, start, end, nLes),
        NativeHistogram.histStdvar)
    case AggBy("count", by, arg, None) if histEvaluable(arg) =>
      countSeries(evalH(arg, hists, at, lookbackMs, start, end, nLes),
        byKeys(_, by))
    case AggWithout("count", w, arg, None) if histEvaluable(arg) =>
      countSeries(evalH(arg, hists, at, lookbackMs, start, end, nLes),
        withoutKeys(_, w))
    // float aggregations / rank over a FLOAT result re-enter the float
    // tier's own kernels on the pre-evaluated frame
    case AggBy(op, by, arg, param) if floatEvaluable(arg) =>
      PromQL.aggFrame(eval(arg, hists, at, lookbackMs, start, end, nLes),
        op, Some(by), None, param)
    case AggWithout(op, w, arg, param) if floatEvaluable(arg) =>
      PromQL.aggFrame(eval(arg, hists, at, lookbackMs, start, end, nLes),
        op, None, Some(w), param)
    case RankK(op, k, arg, by, w) if floatEvaluable(arg) =>
      PromQL.rankFrame(eval(arg, hists, at, lookbackMs, start, end, nLes),
        op, k, by, w)
    // subqueries: the inner float-evaluable expression evaluates on
    // the subquery's absolute-aligned grid through THIS tier, then the
    // float tier's own fold machinery finishes (one inner pass +
    // per-series fold — never a loop over steps)
    case Fn(name, Subquery(inner, rangeMs, sqStep, off, atm), params)
        if PromQL.SubqueryFns(name) && floatEvaluable(inner) =>
      PromQL.subqueryFold(name, inner, rangeMs, sqStep,
        resolveAt(atm, at, start, end) - off, hists, lookbackMs, params,
        (e, f, s0, e0, st, lb) => evalRange(e, f, s0, e0, st, lb, nLes))
    // count_over_time over a HISTOGRAM-valued subquery inner: the
    // inner's absolute-aligned grid points per series — a float vector
    case Fn("count_over_time", Subquery(inner, rangeMs, sqStep, off, atm), _)
        if histEvaluable(inner) =>
      val grid = histSubqueryGrid(inner, rangeMs, sqStep,
        resolveAt(atm, at, start, end) - off, hists, lookbackMs, nLes)
      dropMetric(metricLabel(hists))(grid.groupBy(grid.columns.toSeq
          .filterNot(Seq("t", HistCol).contains(_))
          .map(c => col(s"`$c`")): _*)
        .agg(count(lit(1)).cast("double").as(TsdbSchema.ValueCol)))
    // limit_ratio over a FLOAT result: the float tier's hash-band
    // membership on the pre-evaluated frame
    case LimitRatio(r, arg) if floatEvaluable(arg) =>
      PromQL.limitRatioFrame(
        eval(arg, hists, at, lookbackMs, start, end, nLes), r)
    // value maps / sort over float results — the float tier's own
    // per-row kernels on the pre-evaluated frame
    case Fn(name, arg, params)
        if PromQL.InstantFns(name) && name != "absent" &&
          name != "scalar" && name != "vector" && floatEvaluable(arg) =>
      PromQL.instantFn(name,
        eval(arg, hists, at, lookbackMs, start, end, nLes), params, at)
    // set ops between float results: the float tier's membership joins
    // (surviving side's rows unchanged; only membership consults keys)
    case PromQL.SetOp(op, on, l, r, ign)
        if floatEvaluable(l) && floatEvaluable(r) =>
      val lv = eval(l, hists, at, lookbackMs, start, end, nLes)
      val rv = eval(r, hists, at, lookbackMs, start, end, nLes)
      PromQL.vectorSetOp(op, on, ign, lv, rv,
        extra = Seq("bucket", "t").filter(c =>
          lv.columns.contains(c) && rv.columns.contains(c)))
    // absent: one `{<synthesized>} 1` row exactly when the hist-vector
    // argument is EMPTY at the instant (labels from the selector's Eq
    // matchers — the float tier's createLabelsForAbsentFunction shape)
    case Fn("absent", arg, _) if histEvaluable(arg) =>
      evalH(arg, hists, at, lookbackMs, start, end, nLes)
        .agg(count(lit(1)).as("_n")).where(col("_n") === 0)
        .select(lit(at).as(TimeCol) +: PromQL.absentLabelCols(arg) :+
          lit(1.0d).as(TsdbSchema.ValueCol): _*)
    // absent_over_time: nothing matched in (at − range, at]
    case Fn("absent_over_time",
            sel @ Selector(ms, Some(rangeMs), off, atm), _) =>
      val known = TsdbSchema.labelColumns(hists)
        .map(_.stripPrefix(TsdbSchema.LabelPrefix)).toSet
      val t0 = resolveAt(atm, at, start, end) - off
      hists.where(MatcherCompiler.compileAll(ms, known) &&
          col(TimeCol) > t0 - rangeMs && col(TimeCol) <= t0 &&
          col(HistCol).isNotNull)
        .agg(count(lit(1)).as("_n")).where(col("_n") === 0)
        .select(lit(at).as(TimeCol) +: PromQL.absentLabelCols(sel) :+
          lit(1.0d).as(TsdbSchema.ValueCol): _*)
    // present_over_time: count_over_time's windows clamped to 1
    case Fn("present_over_time", s @ Selector(_, Some(_), _, _), p) =>
      eval(Fn("count_over_time", s, p), hists, at, lookbackMs,
        start, end, nLes)
        .withColumn(TsdbSchema.ValueCol, lit(1.0d))
    // count_over_time: snapshots per window, a FLOAT vector — tumbling
    // buckets un-anchored, ONE pinned window under @ (the evalStrict
    // instant shape); stale markers are not samples and don't count
    case Fn("count_over_time", Selector(ms, Some(rangeMs), off, atm), _) =>
      val known = TsdbSchema.labelColumns(hists)
        .map(_.stripPrefix(TsdbSchema.LabelPrefix)).toSet
      val labels = TsdbSchema.dynCols(hists)
      atm match {
        case Some(_) =>
          val t0 = resolveAt(atm, at, start, end) - off
          dropMetric(metricLabel(hists))(hists
            .where(MatcherCompiler.compileAll(ms, known) &&
              col(TimeCol) > t0 - rangeMs && col(TimeCol) <= t0 &&
              col(HistCol).isNotNull)
            .groupBy(labels: _*)
            .agg(count(lit(1)).cast("double").as(TsdbSchema.ValueCol)))
        case None =>
          val bucket = (floor(col(TimeCol) / rangeMs.toDouble) * rangeMs)
            .cast("long").as("bucket")
          dropMetric(metricLabel(hists))(hists
            .where(MatcherCompiler.compileAll(ms, known) &&
              col(TimeCol) > start - off && col(TimeCol) < end - off &&
              col(HistCol).isNotNull)
            .withColumn("bucket", bucket)
            .groupBy(labels :+ col("bucket"): _*)
            .agg(count(lit(1)).cast("double").as(TsdbSchema.ValueCol)))
      }
    // vector-scalar arithmetic/comparisons over a FLOAT result (the
    // shape of every alert on a native-histogram metric —
    // `histogram_quantile(0.99, rate(h[5m])) > 0.5`): the hist tier's
    // terminal functions yield float vectors, so the float tier's own
    // scalarOp applies verbatim (filter / bool / arithmetic semantics).
    // Guarded on floatEvaluable: a HIST-valued operand (`native * 2`)
    // falls through to evalH's histogram-scaling cases instead.
    case BinOp(op, _, l, ScalarLit(s), bool, _, _, _)
        if floatEvaluable(l) =>
      PromQL.scalarOp(eval(l, hists, at, lookbackMs, start, end, nLes),
        op, lit(s), flipped = false, bool = bool)
    case BinOp(op, _, ScalarLit(s), r, bool, _, _, _)
        if floatEvaluable(r) =>
      PromQL.scalarOp(eval(r, hists, at, lookbackMs, start, end, nLes),
        op, lit(s), flipped = true, bool = bool)
    case other => evalH(other, hists, at, lookbackMs, start, end, nLes)
  }
  }

  /** Prometheus `query_range` over native-histogram series: the
    * expression re-evaluates at every grid timestamp `t_i = start +
    * i·step` over its own window ending there (the dashboard-panel
    * shape), using the float tier's fan-out decomposition — per-series
    * state (latest snapshot / consecutive-pair deltas) is computed ONCE,
    * each row fans to the ≤ ceil(range/step) grid points whose window
    * covers it (an explode of small longs, never of structs), and one
    * partial-agg groupBy on (series, t) finishes. Output frames carry
    * the grid column `t`; aggregation and the scalar functions treat it
    * as an implicit grouping key. Same grammar subset as [[eval]];
    * `@`/offset anchoring inside range mode is limited to offsets
    * (an `@` anchor pins a constant — use [[eval]] at the anchor). */
  def evalRange(expr0: Expr, hists: DataFrame, start: Long, end: Long,
                stepMs: Long, lookbackMs: Long, nLes: Int): DataFrame = {
    val expr = PromQL.anchorSelectors(expr0)
    expr match {
      case Fn("histogram_quantile", arg, params) =>
        scalarize(evalHR(arg, hists, start, end, stepMs, lookbackMs, nLes),
          h => NativeHistogram.histQuantile(h, params.head))
      case Fn("histogram_fraction", arg, Seq(lo, hi)) =>
        scalarize(evalHR(arg, hists, start, end, stepMs, lookbackMs, nLes),
          h => NativeHistogram.histFraction(h, lit(lo), lit(hi)))
      case Fn("histogram_count", arg, _) =>
        scalarize(evalHR(arg, hists, start, end, stepMs, lookbackMs, nLes),
          NativeHistogram.histCount)
      case Fn("histogram_sum", arg, _) =>
        scalarize(evalHR(arg, hists, start, end, stepMs, lookbackMs, nLes),
          NativeHistogram.histSum)
      case Fn("histogram_avg", arg, _) =>
        scalarize(evalHR(arg, hists, start, end, stepMs, lookbackMs, nLes),
          NativeHistogram.histAvg)
      case Fn("histogram_stddev", arg, _) =>
        scalarize(evalHR(arg, hists, start, end, stepMs, lookbackMs, nLes),
          NativeHistogram.histStddev)
      case Fn("histogram_stdvar", arg, _) =>
        scalarize(evalHR(arg, hists, start, end, stepMs, lookbackMs, nLes),
          NativeHistogram.histStdvar)
      // vector-scalar over the float result — the range-mode twin of
      // [[eval]]'s cases (alert rules evaluate on this grid); the
      // floatEvaluable guard routes HIST-valued operands to evalHR's
      // histogram-scaling cases
      case BinOp(op, _, l, ScalarLit(s), bool, _, _, _)
          if floatEvaluable(l) =>
        PromQL.scalarOp(
          evalRange(l, hists, start, end, stepMs, lookbackMs, nLes),
          op, lit(s), flipped = false, bool = bool)
      case BinOp(op, _, ScalarLit(s), r, bool, _, _, _)
          if floatEvaluable(r) =>
        PromQL.scalarOp(
          evalRange(r, hists, start, end, stepMs, lookbackMs, nLes),
          op, lit(s), flipped = true, bool = bool)
      case AggBy("count", by, arg, None) if histEvaluable(arg) =>
        countSeries(evalHR(arg, hists, start, end, stepMs, lookbackMs, nLes),
          byKeys(_, by))
      case AggWithout("count", w, arg, None) if histEvaluable(arg) =>
        countSeries(evalHR(arg, hists, start, end, stepMs, lookbackMs, nLes),
          withoutKeys(_, w))
      // float aggregations / rank over a FLOAT result — the float
      // tier's kernels on the pre-evaluated grid frame (`t` stays an
      // implicit grouping key through aggFrame/rankFrame's gridKeys)
      case AggBy(op, by, arg, param) if floatEvaluable(arg) =>
        PromQL.aggFrame(
          evalRange(arg, hists, start, end, stepMs, lookbackMs, nLes),
          op, Some(by), None, param)
      case AggWithout(op, w, arg, param) if floatEvaluable(arg) =>
        PromQL.aggFrame(
          evalRange(arg, hists, start, end, stepMs, lookbackMs, nLes),
          op, None, Some(w), param)
      case RankK(op, k, arg, by, w) if floatEvaluable(arg) =>
        PromQL.rankFrame(
          evalRange(arg, hists, start, end, stepMs, lookbackMs, nLes),
          op, k, by, w)
      // range-mode subqueries: ONE inner pass over the covering grid
      // through this tier, fan-out to the outer steps (the float
      // tier's decomposition); an @ anchor pins one fold across the
      // grid like every other anchored shape
      case Fn(name, Subquery(inner, rangeMs, sqStep, off, None), params)
          if PromQL.SubqueryFns(name) && floatEvaluable(inner) =>
        PromQL.subqueryFoldRange(name, inner, rangeMs, sqStep, off,
          hists, start, end, stepMs, lookbackMs, params,
          (e, f, s0, e0, st, lb) => evalRange(e, f, s0, e0, st, lb, nLes))
      case f @ Fn(name, Subquery(inner, _, _, _, Some(_)), _)
          if PromQL.SubqueryFns(name) && floatEvaluable(inner) =>
        pinToGrid(eval(f, hists, end, lookbackMs, start, end, nLes),
          start, end, stepMs)
      // count_over_time over a HISTOGRAM-valued subquery inner, range
      // mode: ONE inner pass over the covering grid, inner points fan
      // to the outer steps whose window contains them, count per
      // (series, t) — a float matrix
      case Fn("count_over_time",
              Subquery(inner, rangeMs, sqStep, off, None), _)
          if histEvaluable(inner) =>
        val fanned = histSubqueryFanned(inner, rangeMs, sqStep, off,
          hists, start, end, stepMs, lookbackMs, nLes)
        dropMetric(metricLabel(hists))(fanned.groupBy(fanned.columns.toSeq
            .filterNot(Seq(TimeCol, HistCol).contains(_))
            .map(c => col(s"`$c`")): _*)
          .agg(count(lit(1)).cast("double").as(TsdbSchema.ValueCol)))
      case f @ Fn("count_over_time", Subquery(inner, _, _, _, Some(_)), _)
          if histEvaluable(inner) =>
        pinToGrid(eval(f, hists, end, lookbackMs, start, end, nLes),
          start, end, stepMs)
      // limit_ratio over a FLOAT result on the grid: membership is a
      // label-only hash predicate, stable across steps (Prometheus)
      case LimitRatio(r, arg) if floatEvaluable(arg) =>
        PromQL.limitRatioFrame(
          evalRange(arg, hists, start, end, stepMs, lookbackMs, nLes), r)
      // value maps don't touch the grid column — per-step for free
      case Fn(name, arg, params)
          if PromQL.InstantFns(name) && name != "absent" &&
            name != "scalar" && name != "vector" && floatEvaluable(arg) =>
        PromQL.instantFn(name,
          evalRange(arg, hists, start, end, stepMs, lookbackMs, nLes),
          params, at = end)
      // set ops between float results on the shared grid
      case PromQL.SetOp(op, on, l, r, ign)
          if floatEvaluable(l) && floatEvaluable(r) =>
        PromQL.vectorSetOp(op, on, ign,
          evalRange(l, hists, start, end, stepMs, lookbackMs, nLes),
          evalRange(r, hists, start, end, stepMs, lookbackMs, nLes),
          extra = Seq("t"))
      // per-step absent: a `{<synthesized>} 1` row at every grid step
      // where the hist-vector argument is empty — grid anti-join
      // against the present steps (the float tier's kernel shape)
      case Fn("absent", arg, _) if histEvaluable(arg) =>
        val hv = evalRange(arg, hists, start, end, stepMs, lookbackMs, nLes)
        hists.sparkSession.range((end - start) / stepMs + 1)
          .select((lit(start) + col("id") * stepMs).as("t"))
          .join(hv.select(col("t")).distinct(), Seq("t"), "left_anti")
          .select(col("t") +: PromQL.absentLabelCols(arg) :+
            lit(1.0d).as(TsdbSchema.ValueCol): _*)
      // per-step absent_over_time: steps whose window matched nothing —
      // the sliding count kernel's present steps, anti-joined
      case Fn("absent_over_time",
              sel @ Selector(_, Some(_), _, None), _) =>
        val present = evalRange(Fn("count_over_time", sel, Nil), hists,
          start, end, stepMs, lookbackMs, nLes)
        hists.sparkSession.range((end - start) / stepMs + 1)
          .select((lit(start) + col("id") * stepMs).as("t"))
          .join(present.select(col("t")).distinct(), Seq("t"), "left_anti")
          .select(col("t") +: PromQL.absentLabelCols(sel) :+
            lit(1.0d).as(TsdbSchema.ValueCol): _*)
      case Fn("present_over_time", s @ Selector(_, Some(_), _, None), p) =>
        evalRange(Fn("count_over_time", s, p), hists, start, end, stepMs,
          lookbackMs, nLes)
          .withColumn(TsdbSchema.ValueCol, lit(1.0d))
      // sliding count_over_time: snapshots fan to covering grid steps,
      // one partial-agg count per (series, t) — a float matrix
      case Fn("count_over_time", Selector(ms, Some(rangeMs), off, None), _) =>
        val known = TsdbSchema.labelColumns(hists)
          .map(_.stripPrefix(TsdbSchema.LabelPrefix)).toSet
        val labels = TsdbSchema.dynCols(hists)
        val nSteps = (end - start) / stepMs
        val (iLo, iHi) = RangeVectors.gridIdx(col(TimeCol) + off,
          col(TimeCol) + off + (rangeMs - 1), start, stepMs, nSteps)
        dropMetric(metricLabel(hists))(hists
          .where(MatcherCompiler.compileAll(ms, known) &&
            col(TimeCol) > start - off - rangeMs &&
            col(TimeCol) <= end - off && col(HistCol).isNotNull)
          .withColumn("_ilo", iLo).withColumn("_ihi", iHi)
          .where(col("_ilo") <= col("_ihi"))
          .withColumn("_i", explode(sequence(col("_ilo"), col("_ihi"))))
          .withColumn("t", lit(start) + col("_i") * stepMs)
          .groupBy(labels :+ col("t"): _*)
          .agg(count(lit(1)).cast("double").as(TsdbSchema.ValueCol)))
      case f @ Fn("count_over_time", Selector(_, Some(_), _, Some(_)), _) =>
        // @-anchored: one pinned count repeated across the grid
        pinToGrid(eval(f, hists, end, lookbackMs, start, end, nLes),
          start, end, stepMs)
      case other => evalHR(other, hists, start, end, stepMs, lookbackMs, nLes)
    }
  }

  /** Range-mode histogram-vector evaluation (adds the grid column `t`). */
  private def evalHR(expr: Expr, hists: DataFrame, start: Long, end: Long,
                     stepMs: Long, lookbackMs: Long, nLes: Int): DataFrame =
    expr match {
      case Selector(ms, None, off, None) =>
        // per-step instant: a snapshot at ts serves grid points t with
        // t − off ∈ [ts, ts + lookback) — latest in-window wins
        val known = TsdbSchema.labelColumns(hists)
          .map(_.stripPrefix(TsdbSchema.LabelPrefix)).toSet
        val labels = TsdbSchema.dynCols(hists)
        val nSteps = (end - start) / stepMs
        val (iLo, iHi) = RangeVectors.gridIdx(col(TimeCol) + off,
          col(TimeCol) + off + (lookbackMs - 1), start, stepMs, nSteps)
        hists
          .where(MatcherCompiler.compileAll(ms, known) &&
            col(TimeCol) > start - off - lookbackMs &&
            col(TimeCol) <= end - off)
          .withColumn("_ilo", iLo).withColumn("_ihi", iHi)
          .where(col("_ilo") <= col("_ihi"))
          .withColumn("_i", explode(sequence(col("_ilo"), col("_ihi"))))
          .withColumn("t", lit(start) + col("_i") * stepMs)
          .groupBy(labels :+ col("t"): _*)
          .agg(max_by(col(HistCol), col(TimeCol)).as(HistCol))
          // latest-in-window NULL = staleness marker: series excluded
          // at this grid point (the float tier's lookback contract)
          .where(col(HistCol).isNotNull)
      case s @ Selector(_, None, _, Some(_)) =>
        // @-anchored instant selector on a grid: the anchor pins ONE
        // instant evaluation which repeats at every step (Prometheus
        // returns the pinned value across the grid) — evaluate once,
        // fan the constant out; never a per-step re-evaluation
        pinToGrid(evalH(s, hists, end, lookbackMs, start, end, nLes),
          start, end, stepMs)
      case Fn(name @ ("rate" | "increase"),
              Selector(ms, Some(rangeMs), off, None), _) =>
        val known = TsdbSchema.labelColumns(hists)
          .map(_.stripPrefix(TsdbSchema.LabelPrefix)).toSet
        val sel = hists.where(MatcherCompiler.compileAll(ms, known) &&
          col(TimeCol) > start - off - rangeMs && col(TimeCol) <= end - off &&
          col(HistCol).isNotNull) // range selections skip stale markers
        dropMetric("__name__")(histSlidingRate(sel, rangeMs, stepMs, start,
          end, off, nLes, asRate = name == "rate"))
      // @-anchored range function on a grid: the pinned window is a
      // constant — one single-point-grid evaluation (evalH's anchored
      // case) exploded to every step, like the anchored bare selector
      case f @ Fn("rate" | "increase" | "sum_over_time" |
                  "avg_over_time" | "last_over_time" | "first_over_time" |
                  "delta" | "ts_of_last_over_time" |
                  "ts_of_first_over_time",
                  Selector(_, Some(_), _, Some(_)), _) =>
        pinToGrid(evalH(f, hists, end, lookbackMs, start, end, nLes),
          start, end, stepMs)
      case Fn(name @ ("rate" | "increase"), _, _) =>
        throw new IllegalArgumentException(
          s"$name over histograms needs a range selector argument (m[duration])")
      case AggBy("sum", by, arg, None) =>
        mergeH(evalHR(arg, hists, start, end, stepMs, lookbackMs, nLes),
          byKeys(_, by), nLes, scaleByN = false)
      case AggWithout("sum", w, arg, None) =>
        mergeH(evalHR(arg, hists, start, end, stepMs, lookbackMs, nLes),
          withoutKeys(_, w), nLes, scaleByN = false)
      case AggBy("avg", by, arg, None) =>
        mergeH(evalHR(arg, hists, start, end, stepMs, lookbackMs, nLes),
          byKeys(_, by), nLes, scaleByN = true)
      case AggWithout("avg", w, arg, None) =>
        mergeH(evalHR(arg, hists, start, end, stepMs, lookbackMs, nLes),
          withoutKeys(_, w), nLes, scaleByN = true)
      // sliding-window histogram folds: same fan-out decomposition as
      // the rate kernel — each snapshot explodes to the ≤
      // ceil(range/step) grid points whose window covers it, one
      // partial-agg groupBy on (series, t) merges (sum), merges and
      // scales by the window's snapshot count (avg), or picks the
      // latest snapshot (last)
      case Fn(name @ ("sum_over_time" | "avg_over_time" |
                      "last_over_time" | "first_over_time" | "delta" |
                      "ts_of_last_over_time" | "ts_of_first_over_time"),
              Selector(ms, Some(rangeMs), off, None), _) =>
        val known = TsdbSchema.labelColumns(hists)
          .map(_.stripPrefix(TsdbSchema.LabelPrefix)).toSet
        val sel = hists.where(MatcherCompiler.compileAll(ms, known) &&
          col(TimeCol) > start - off - rangeMs && col(TimeCol) <= end - off &&
          col(HistCol).isNotNull) // range selections skip stale markers
        val folded = histSlidingOverTime(sel, rangeMs, stepMs, start, end,
          off, nLes, name)
        if (KeepNameFolds(name)) folded
        else dropMetric(metricLabel(hists))(folded)
      // hist ± hist / hist × scalar / hist ÷ scalar, range mode — each
      // operand evaluates on the shared grid, so `t` joins the match
      // keys (histArith) or simply rides along (scaling)
      case BinOp(op @ ("+" | "-"), on, l, r, false, "", ign, Seq())
          if !l.isInstanceOf[ScalarLit] && !r.isInstanceOf[ScalarLit] =>
        histArith(
          evalHR(l, hists, start, end, stepMs, lookbackMs, nLes),
          evalHR(r, hists, start, end, stepMs, lookbackMs, nLes),
          subtract = op == "-", on = on, ignoring = ign,
          metric = metricLabel(hists))
      case BinOp("*", _, l, ScalarLit(s), false, _, _, _) =>
        scaleHistFrame(evalHR(l, hists, start, end, stepMs, lookbackMs,
          nLes), s, metricLabel(hists))
      case BinOp("*", _, ScalarLit(s), r, false, _, _, _) =>
        scaleHistFrame(evalHR(r, hists, start, end, stepMs, lookbackMs,
          nLes), s, metricLabel(hists))
      case BinOp("/", _, l, ScalarLit(s), false, _, _, _) =>
        scaleHistFrame(evalHR(l, hists, start, end, stepMs, lookbackMs,
          nLes), 1.0 / s, metricLabel(hists))
      // set ops between histogram vectors on the shared grid
      case PromQL.SetOp(op, on, l, r, ign)
          if histEvaluable(l) && histEvaluable(r) =>
        setOpFrames(op,
          evalHR(l, hists, start, end, stepMs, lookbackMs, nLes),
          evalHR(r, hists, start, end, stepMs, lookbackMs, nLes), on, ign,
          metricLabel(hists))
      // hist ÷/× float-vector on the shared grid: both sides evaluate
      // per step, `t` joins the match keys through the scale join
      case BinOp("/", on, l, r, false, "", ign, Seq())
          if histEvaluable(l) && floatEvaluable(r) =>
        scaleByVector(evalHR(l, hists, start, end, stepMs, lookbackMs, nLes),
          evalRange(r, hists, start, end, stepMs, lookbackMs, nLes),
          divide = true, metricLabel(hists), on, ign)
      case BinOp("*", on, l, r, false, "", ign, Seq())
          if histEvaluable(l) && floatEvaluable(r) =>
        scaleByVector(evalHR(l, hists, start, end, stepMs, lookbackMs, nLes),
          evalRange(r, hists, start, end, stepMs, lookbackMs, nLes),
          divide = false, metricLabel(hists), on, ign)
      case BinOp("*", on, l, r, false, "", ign, Seq())
          if floatEvaluable(l) && histEvaluable(r) =>
        scaleByVector(evalHR(r, hists, start, end, stepMs, lookbackMs, nLes),
          evalRange(l, hists, start, end, stepMs, lookbackMs, nLes),
          divide = false, metricLabel(hists), on, ign)
      // histogram-valued subquery folds, range mode: ONE inner pass
      // over the covering grid, inner points fan to the outer steps
      // whose window contains them, one partial-agg fold per
      // (series, t) — the float tier's decomposition with the
      // histogram merge as the fold kernel
      case Fn(name @ ("sum_over_time" | "avg_over_time" | "last_over_time"),
              Subquery(inner, rangeMs, sqStep, off, None), _)
          if histEvaluable(inner) =>
        val fanned = histSubqueryFanned(inner, rangeMs, sqStep, off,
          hists, start, end, stepMs, lookbackMs, nLes)
        val keys = fanned.columns.toSeq
          .filterNot(Seq(TimeCol, HistCol).contains(_)).map(c => col(s"`$c`"))
        val folded = foldOverTime(fanned, keys, nLes, name)
        if (name == "last_over_time") folded
        else dropMetric(metricLabel(hists))(folded)
      case f @ Fn("sum_over_time" | "avg_over_time" | "last_over_time",
              Subquery(inner, _, _, _, Some(_)), _)
          if histEvaluable(inner) =>
        // @-anchored: one pinned fold repeated across the grid
        pinToGrid(evalH(f, hists, end, lookbackMs, start, end, nLes),
          start, end, stepMs)
      // limitk / limit_ratio over a histogram vector on the grid:
      // membership/order is label-only, so the kept set is stable
      // across steps (the Prometheus contract for ratio sampling)
      case RankK("limitk", k, arg, by, w) if histEvaluable(arg) =>
        histLimitK(evalHR(arg, hists, start, end, stepMs, lookbackMs, nLes),
          k, by, w, metricLabel(hists))
      case LimitRatio(r, arg) if histEvaluable(arg) =>
        histLimitRatio(
          evalHR(arg, hists, start, end, stepMs, lookbackMs, nLes), r)
      case other =>
        throw new IllegalArgumentException(
          "unsupported over native histograms: " + PromQL.render(other) +
            " (supported: selector, rate/increase, sum/avg/count " +
            "aggregation, histogram_* scalar functions, +/- between " +
            "histograms, * and / by a scalar or matched float vector, " +
            "sum/avg/last_over_time incl. over histogram subqueries, " +
            "limitk/limit_ratio)")
    }

  /** Sliding-window histogram rate/increase: consecutive-pair delta
    * histograms are built ONCE per series (same reset rule as the
    * tumbling kernel), then each pair fans to the grid points whose
    * window (t − off − range, t − off] contains both endpoints; per
    * (series, t) the deltas sum through the static per-index unroll and
    * span = Σ pair gaps (in-window pairs chain contiguously). Windows
    * with < 2 snapshots have no pair and drop out. */
  private def histSlidingRate(sel: DataFrame, rangeMs: Long, stepMs: Long,
                              start: Long, end: Long, off: Long, nLes: Int,
                              asRate: Boolean): DataFrame = {
    val labels = TsdbSchema.dynCols(sel)
    val nSteps = (end - start) / stepMs
    val w = Window.partitionBy(labels: _*).orderBy(col(TimeCol).asc)
    val cur = col(HistCol)
    val prev = lag(col(HistCol), 1).over(w)
    val reset = cur.getField("count") < prev.getField("count") ||
      exists(zip_with(cur.getField("counts"), prev.getField("counts"),
        (a, p) => a < p), x => x)
    val delta = when(reset, cur)
      .otherwise(struct(
        (cur.getField("count") - prev.getField("count")).as("count"),
        (cur.getField("sum") - prev.getField("sum")).as("sum"),
        cur.getField("les").as("les"),
        zip_with(cur.getField("counts"), prev.getField("counts"),
          (a, p) => a - p).as("counts")))
    val pairs = sel
      .withColumn("_prev_t", lag(col(TimeCol), 1).over(w))
      .withColumn("_delta", delta)
      .where(col("_prev_t").isNotNull)
    val (iLo, iHi) = RangeVectors.gridIdx(col(TimeCol) + off,
      col("_prev_t") + off + (rangeMs - 1), start, stepMs, nSteps)
    val d = col("_delta")
    val perIndex = (1 to nLes).map(i => sum(element_at(d.getField("counts"), i)))
    val layoutOk = assert_true(
      min(size(d.getField("les"))) === max(size(d.getField("les"))),
      lit("PromQLHist.histSlidingRate: incompatible bucket layouts in window"))
    val agg = pairs
      .withColumn("_ilo", iLo).withColumn("_ihi", iHi)
      .where(col("_ilo") <= col("_ihi"))
      .withColumn("_i", explode(sequence(col("_ilo"), col("_ihi"))))
      .withColumn("t", lit(start) + col("_i") * stepMs)
      .groupBy(labels :+ col("t"): _*)
      .agg(
        (sum(col(TimeCol) - col("_prev_t")) / 1000.0).as("_span_sec"),
        struct(
          sum(d.getField("count")).as("count"),
          sum(d.getField("sum")).as("sum"),
          when(layoutOk.isNull, first(d.getField("les"))).as("les"),
          when(layoutOk.isNull, array(perIndex: _*)).as("counts"))
          .as(HistCol))
    val out =
      if (asRate)
        agg.withColumn(HistCol,
          histScale(col(HistCol), lit(1.0) / nullif(col("_span_sec"), lit(0.0))))
      else agg
    out.drop("_span_sec")
  }

  // ---- histogram-vector evaluation ----

  private def evalH(expr: Expr, hists: DataFrame, at: Long, lookbackMs: Long,
                    start: Long, end: Long, nLes: Int): DataFrame = expr match {
    case Selector(ms, None, off, atm) =>
      val t = resolveAt(atm, at, start, end) - off
      val known = TsdbSchema.labelColumns(hists)
        .map(_.stripPrefix(TsdbSchema.LabelPrefix)).toSet
      val labels = TsdbSchema.dynCols(hists)
      hists
        .where(MatcherCompiler.compileAll(ms, known) &&
          col(TimeCol) > t - lookbackMs && col(TimeCol) <= t)
        .groupBy(labels: _*)
        .agg(max_by(col(HistCol), col(TimeCol)).as(HistCol))
        // latest-in-window NULL = staleness marker: series excluded
        .where(col(HistCol).isNotNull)
    case Selector(_, Some(_), _, _) =>
      throw new IllegalArgumentException(
        "range selector must be wrapped in rate() or increase()")
    // @-anchored range selector under ANY range function: Prometheus
    // pins the window to (anchor − off − range, anchor − off]
    // regardless of the evaluation instant — ONE window per series ≡
    // the sliding kernel on a single-point grid (the float tier's
    // asAnchoredVector decomposition; a tumbling evaluation would
    // split the pinned window on epoch-aligned bucket edges)
    case Fn(name @ ("rate" | "increase" | "sum_over_time" |
                    "avg_over_time" | "last_over_time" |
                    "first_over_time" | "delta" | "ts_of_last_over_time" |
                    "ts_of_first_over_time"),
            Selector(ms, Some(rangeMs), off, atm @ Some(_)), params) =>
      val t0 = resolveAt(atm, at, start, end)
      evalHR(Fn(name, Selector(ms, Some(rangeMs), off, None), params),
        hists, t0, t0, stepMs = rangeMs, lookbackMs = lookbackMs,
        nLes = nLes).drop("t")
    case Fn(name @ ("rate" | "increase"),
            Selector(ms, Some(rangeMs), off, None), _) =>
      val known = TsdbSchema.labelColumns(hists)
        .map(_.stripPrefix(TsdbSchema.LabelPrefix)).toSet
      val sel = hists.where(MatcherCompiler.compileAll(ms, known) &&
        col(TimeCol) > start - off && col(TimeCol) < end - off &&
        col(HistCol).isNotNull) // range selections skip stale markers
      dropMetric("__name__")(
        histRate(sel, rangeMs, nLes, asRate = name == "rate"))
    case Fn(name @ ("rate" | "increase"), _, _) =>
      throw new IllegalArgumentException(
        s"$name over histograms needs a range selector argument (m[duration])")
    case AggBy("sum", by, arg, None) =>
      mergeH(evalH(arg, hists, at, lookbackMs, start, end, nLes),
        byKeys(_, by), nLes, scaleByN = false)
    case AggWithout("sum", w, arg, None) =>
      mergeH(evalH(arg, hists, at, lookbackMs, start, end, nLes),
        withoutKeys(_, w), nLes, scaleByN = false)
    case AggBy("avg", by, arg, None) =>
      mergeH(evalH(arg, hists, at, lookbackMs, start, end, nLes),
        byKeys(_, by), nLes, scaleByN = true)
    case AggWithout("avg", w, arg, None) =>
      mergeH(evalH(arg, hists, at, lookbackMs, start, end, nLes),
        withoutKeys(_, w), nLes, scaleByN = true)
    // range folds over whole histograms — same tumbling-[d]-bucket
    // contract and stale-marker skip as the rate kernel; sum merges,
    // avg merges and scales by the window's snapshot count, last picks
    // the latest snapshot. last_over_time KEEPS the metric name
    // (Prometheus: it returns raw samples); the folds drop it.
    case Fn(name @ ("sum_over_time" | "avg_over_time" | "last_over_time" |
                    "first_over_time" | "delta" | "ts_of_last_over_time" |
                    "ts_of_first_over_time"),
            Selector(ms, Some(rangeMs), off, None), _) =>
      val known = TsdbSchema.labelColumns(hists)
        .map(_.stripPrefix(TsdbSchema.LabelPrefix)).toSet
      val sel = hists.where(MatcherCompiler.compileAll(ms, known) &&
        col(TimeCol) > start - off && col(TimeCol) < end - off &&
        col(HistCol).isNotNull) // range selections skip stale markers
      val folded = histOverTime(sel, rangeMs, nLes, name)
      if (KeepNameFolds(name)) folded else dropMetric(metricLabel(hists))(folded)
    // hist ± hist: one-to-one vector matching — `on(keys)` when given,
    // else the full label sets minus the metric name and any
    // `ignoring(keys)` (Prometheus matching), element-wise bucket
    // add/subtract. group_left/group_right between histograms raises
    // the unsupported error below.
    case BinOp(op @ ("+" | "-"), on, l, r, false, "", ign, Seq())
        if !l.isInstanceOf[ScalarLit] && !r.isInstanceOf[ScalarLit] =>
      histArith(
        evalH(l, hists, at, lookbackMs, start, end, nLes),
        evalH(r, hists, at, lookbackMs, start, end, nLes),
        subtract = op == "-", on = on, ignoring = ign,
        metric = metricLabel(hists))
    // hist × scalar / hist ÷ scalar: every additive component scales
    // (Prometheus's histogram-scalar multiplication); arithmetic drops
    // the metric name
    case BinOp("*", _, l, ScalarLit(s), false, _, _, _) =>
      scaleHistFrame(evalH(l, hists, at, lookbackMs, start, end, nLes),
        s, metricLabel(hists))
    case BinOp("*", _, ScalarLit(s), r, false, _, _, _) =>
      scaleHistFrame(evalH(r, hists, at, lookbackMs, start, end, nLes),
        s, metricLabel(hists))
    case BinOp("/", _, l, ScalarLit(s), false, _, _, _) =>
      scaleHistFrame(evalH(l, hists, at, lookbackMs, start, end, nLes),
        1.0 / s, metricLabel(hists))
    // set ops between HISTOGRAM vectors: membership joins, rows of the
    // surviving side unchanged (value-agnostic — Prometheus semantics)
    case PromQL.SetOp(op, on, l, r, ign)
        if histEvaluable(l) && histEvaluable(r) =>
      setOpFrames(op,
        evalH(l, hists, at, lookbackMs, start, end, nLes),
        evalH(r, hists, at, lookbackMs, start, end, nLes), on, ign,
        metricLabel(hists))
    // hist ÷ float-vector / hist × float-vector: histArith's keyed
    // join with histScale as the combine (`*` commutes; `float ÷
    // hist` is not a histogram and errors below)
    case BinOp("/", on, l, r, false, "", ign, Seq())
        if histEvaluable(l) && floatEvaluable(r) =>
      scaleByVector(evalH(l, hists, at, lookbackMs, start, end, nLes),
        eval(r, hists, at, lookbackMs, start, end, nLes),
        divide = true, metricLabel(hists), on, ign)
    case BinOp("*", on, l, r, false, "", ign, Seq())
        if histEvaluable(l) && floatEvaluable(r) =>
      scaleByVector(evalH(l, hists, at, lookbackMs, start, end, nLes),
        eval(r, hists, at, lookbackMs, start, end, nLes),
        divide = false, metricLabel(hists), on, ign)
    case BinOp("*", on, l, r, false, "", ign, Seq())
        if floatEvaluable(l) && histEvaluable(r) =>
      scaleByVector(evalH(r, hists, at, lookbackMs, start, end, nLes),
        eval(l, hists, at, lookbackMs, start, end, nLes),
        divide = false, metricLabel(hists), on, ign)
    // histogram-valued SUBQUERY folds: the inner evaluates ONCE over
    // the subquery's absolute-aligned grid, then the grid histograms
    // fold per series — merge (sum), scaled merge (avg), latest
    // snapshot (last). last_over_time keeps the metric name; the
    // merge folds drop it (Prometheus's over-time contract).
    case Fn(name @ ("sum_over_time" | "avg_over_time" | "last_over_time"),
            Subquery(inner, rangeMs, sqStep, off, atm), _)
        if histEvaluable(inner) =>
      val grid = histSubqueryGrid(inner, rangeMs, sqStep,
        resolveAt(atm, at, start, end) - off, hists, lookbackMs, nLes)
        .withColumnRenamed("t", TimeCol)
      val keys = grid.columns.toSeq
        .filterNot(Seq(TimeCol, HistCol).contains(_)).map(c => col(s"`$c`"))
      val folded = foldOverTime(grid, keys, nLes, name)
      if (name == "last_over_time") folded
      else dropMetric(metricLabel(hists))(folded)
    // limitk / limit_ratio over a HISTOGRAM vector: value-agnostic
    // series sampling, rows unchanged (topk/bottomk consult values
    // and keep erroring below, as Prometheus skips hists there)
    case RankK("limitk", k, arg, by, w) if histEvaluable(arg) =>
      histLimitK(evalH(arg, hists, at, lookbackMs, start, end, nLes),
        k, by, w, metricLabel(hists))
    case LimitRatio(r, arg) if histEvaluable(arg) =>
      histLimitRatio(evalH(arg, hists, at, lookbackMs, start, end, nLes), r)
    case other =>
      throw new IllegalArgumentException(
        "unsupported over native histograms: " + PromQL.render(other) +
          " (supported: selector, rate/increase, sum/avg/count " +
          "aggregation, histogram_* scalar functions, +/- between " +
          "histograms, * and / by a scalar or matched float vector, " +
          "sum/avg/last_over_time incl. over histogram subqueries, " +
          "limitk/limit_ratio)")
  }

  // ---- kernels ----

  /** Tumbling-bucket histogram rate/increase: every consecutive
    * snapshot pair inside a (series, bucket) contributes its
    * reset-aware delta histogram — element-wise `cur − prev`, or `cur`
    * whole when ANY bucket (or the count) decreased, Prometheus's
    * detectReset — and the deltas sum per bucket through statically
    * unrolled per-index aggregation (nLes scalar sums, all
    * partial-aggregatable). Buckets need ≥ 2 snapshots (a rate needs a
    * pair); rate additionally divides by the observed span in seconds. */
  private def histRate(sel: DataFrame, rangeMs: Long, nLes: Int,
                       asRate: Boolean): DataFrame = {
    val labels = TsdbSchema.dynCols(sel)
    val bucket = (floor(col(TimeCol) / rangeMs.toDouble) * rangeMs)
      .cast("long").as("bucket")
    val b = sel.withColumn("bucket", bucket)
    val w = Window.partitionBy(labels :+ col("bucket"): _*)
      .orderBy(col(TimeCol).asc)
    val cur = col(HistCol)
    val prev = lag(col(HistCol), 1).over(w)
    val reset = cur.getField("count") < prev.getField("count") ||
      exists(zip_with(cur.getField("counts"), prev.getField("counts"),
        (a, p) => a < p), x => x)
    val delta = when(prev.isNull,
        // first snapshot of a bucket: zero delta, layout preserved
        struct(lit(0.0).as("count"), lit(0.0).as("sum"),
          cur.getField("les").as("les"),
          transform(cur.getField("counts"), _ => lit(0.0)).as("counts")))
      .when(reset, cur)
      .otherwise(struct(
        (cur.getField("count") - prev.getField("count")).as("count"),
        (cur.getField("sum") - prev.getField("sum")).as("sum"),
        cur.getField("les").as("les"),
        zip_with(cur.getField("counts"), prev.getField("counts"),
          (a, p) => a - p).as("counts")))
    val d = col("_delta")
    val spanSec = (max(col(TimeCol)) - min(col(TimeCol))) / 1000.0
    val perIndex = (1 to nLes).map(i => sum(element_at(d.getField("counts"), i)))
    val layoutOk = assert_true(
      min(size(d.getField("les"))) === max(size(d.getField("les"))),
      lit("PromQLHist.histRate: incompatible bucket layouts in window"))
    val agg = b.withColumn("_delta", delta)
      .groupBy(labels :+ col("bucket"): _*)
      .agg(count(lit(1)).as("_n"), spanSec.as("_span_sec"),
        struct(
          sum(d.getField("count")).as("count"),
          sum(d.getField("sum")).as("sum"),
          when(layoutOk.isNull, first(d.getField("les"))).as("les"),
          when(layoutOk.isNull, array(perIndex: _*)).as("counts"))
          .as(HistCol))
      .where(col("_n") >= 2)
    val out =
      if (asRate)
        agg.withColumn(HistCol,
          histScale(col(HistCol), lit(1.0) / nullif(col("_span_sec"), lit(0.0))))
      else agg
    out.drop("_n", "_span_sec")
  }

  /** Scale every additive component of a histogram (count, sum, bucket
    * counts) by `f` — rate's per-second division, avg's 1/n. */
  private def histScale(h: Column, f: Column): Column = struct(
    (h.getField("count") * f).as("count"),
    (h.getField("sum") * f).as("sum"),
    h.getField("les").as("les"),
    transform(h.getField("counts"), c => c * f).as("counts"))

  /** Tumbling-bucket `sum/avg/last_over_time` over whole histograms:
    * snapshots group into epoch-aligned `[d]` buckets (the instant-mode
    * grid contract shared with [[histRate]]); `sum` merges through the
    * static per-index unroll (partial-aggregatable — the exchange
    * carries merged structs), `avg` scales the merge by the window's
    * snapshot count, `last` is a single `max_by`. Unlike rate, one
    * snapshot suffices (no pair needed). */
  private def histOverTime(sel: DataFrame, rangeMs: Long, nLes: Int,
                           fn: String): DataFrame = {
    val labels = TsdbSchema.dynCols(sel)
    val bucket = (floor(col(TimeCol) / rangeMs.toDouble) * rangeMs)
      .cast("long").as("bucket")
    foldOverTime(sel.withColumn("bucket", bucket),
      labels :+ col("bucket"), nLes, fn)
  }

  /** Sliding-window `sum/avg/last_over_time` on the query_range grid —
    * the fan-out decomposition: a snapshot at ts covers the grid points
    * t with t − off ∈ [ts, ts + range), exploded as small longs, then
    * ONE partial-agg groupBy on (series, t) folds. */
  private def histSlidingOverTime(sel: DataFrame, rangeMs: Long,
                                  stepMs: Long, start: Long, end: Long,
                                  off: Long, nLes: Int,
                                  fn: String): DataFrame = {
    val labels = TsdbSchema.dynCols(sel)
    val nSteps = (end - start) / stepMs
    val (iLo, iHi) = RangeVectors.gridIdx(col(TimeCol) + off,
      col(TimeCol) + off + (rangeMs - 1), start, stepMs, nSteps)
    val fanned = sel
      .withColumn("_ilo", iLo).withColumn("_ihi", iHi)
      .where(col("_ilo") <= col("_ihi"))
      .withColumn("_i", explode(sequence(col("_ilo"), col("_ihi"))))
      .withColumn("t", lit(start) + col("_i") * stepMs)
    foldOverTime(fanned, labels :+ col("t"), nLes, fn)
  }

  /** The shared over-time fold under an arbitrary grouping (tumbling
    * bucket or grid step): histogram merge (`sum`), scaled merge
    * (`avg`), or latest snapshot (`last`). */
  private def foldOverTime(df: DataFrame, keys: Seq[Column], nLes: Int,
                           fn: String): DataFrame = {
    val h = col(HistCol)
    fn match {
      case "last_over_time" =>
        df.groupBy(keys: _*).agg(max_by(h, col(TimeCol)).as(HistCol))
      case "first_over_time" =>
        df.groupBy(keys: _*).agg(min_by(h, col(TimeCol)).as(HistCol))
      // sample-TIMESTAMP extractors: float-valued (epoch seconds, the
      // float tier's unit) over histogram series
      case "ts_of_last_over_time" =>
        df.groupBy(keys: _*)
          .agg((max(col(TimeCol)) / 1000.0).as(TsdbSchema.ValueCol))
      case "ts_of_first_over_time" =>
        df.groupBy(keys: _*)
          .agg((min(col(TimeCol)) / 1000.0).as(TsdbSchema.ValueCol))
      case "delta" =>
        // GAUGE-histogram delta: element-wise last − first inside the
        // window — no reset fold, no monotone clamp (Prometheus's
        // delta contract for gauges); a window needs ≥ 2 snapshots
        val a = col("_l"); val b = col("_f")
        val layoutOk = assert_true(
          size(a.getField("les")) === size(b.getField("les")),
          lit("PromQLHist.foldOverTime: incompatible bucket layouts " +
            "in window"))
        df.groupBy(keys: _*)
          .agg(count(lit(1)).as("_n"),
            max_by(h, col(TimeCol)).as("_l"),
            min_by(h, col(TimeCol)).as("_f"))
          .where(col("_n") >= 2)
          .withColumn(HistCol, struct(
            (a.getField("count") - b.getField("count")).as("count"),
            (a.getField("sum") - b.getField("sum")).as("sum"),
            when(layoutOk.isNull, a.getField("les")).as("les"),
            when(layoutOk.isNull,
              zip_with(a.getField("counts"), b.getField("counts"),
                (x, y) => x - y)).as("counts")))
          .drop("_n", "_l", "_f")
      case _ =>
        val perIndex = (1 to nLes).map(i =>
          sum(element_at(h.getField("counts"), i)))
        val layoutOk = assert_true(
          min(size(h.getField("les"))) === max(size(h.getField("les"))),
          lit("PromQLHist.foldOverTime: incompatible bucket layouts " +
            "in window"))
        val agg = df.groupBy(keys: _*)
          .agg(count(lit(1)).as("_n"),
            struct(
              sum(h.getField("count")).as("count"),
              sum(h.getField("sum")).as("sum"),
              when(layoutOk.isNull, first(h.getField("les"))).as("les"),
              when(layoutOk.isNull, array(perIndex: _*)).as("counts"))
              .as(HistCol))
        (if (fn == "avg_over_time")
           agg.withColumn(HistCol,
             histScale(col(HistCol), lit(1.0) / col("_n")))
         else agg).drop("_n")
    }
  }

  /** `histA ± histB` — PromQL one-to-one vector matching between two
    * histogram vectors: the full label sets minus the metric name must
    * be identical, which over the wide/bare schemas is a null-safe
    * inner join on the UNION of both sides' label names (absent ≡ "",
    * the engine's P3 rule), each side projected to bare keys first.
    * The combine is an element-wise struct add/subtract under the same
    * bucket-layout guard as [[NativeHistogram.histAdd]]. Duplicate
    * series per match group on either side are Prometheus's
    * many-to-many error — detected by a window count over the match
    * keys (the same keys the join shuffles on). Grid columns
    * (`bucket`/`t`) present on BOTH sides join; a one-sided grid
    * column rides along from its side. Scale shape: both sides are
    * series-count-sized vectors (× grid steps) — the join is an
    * equi-join on those keys, never data-sized. */
  private def histArith(l0: DataFrame, r0: DataFrame,
                        subtract: Boolean, on: Seq[String],
                        ignoring: Seq[String], metric: String): DataFrame = {
    // `on(keys)` replaces the default key set outright (result labels
    // = the on keys, as in Prometheus); `ignoring(keys)` subtracts
    val keys =
      if (on.nonEmpty) on
      else arithKeys(l0, r0, metric).filterNot(ignoring.contains(_))
    val lg = Seq("bucket", "t").filter(l0.columns.contains)
    val rg = Seq("bucket", "t").filter(r0.columns.contains)
    val shared = lg.intersect(rg)
    val la = oneToOneGuard(keyedH(l0, keys, HistCol, lg), HistCol, "left")
      .as("l")
    val ra = oneToOneGuard(keyedH(r0, keys, "_rh", rg), "_rh", "right")
      .as("r")
    val cond = (keys ++ shared)
      .map(k => col(s"l.`$k`") <=> col(s"r.`$k`"))
      .reduceOption(_ && _).getOrElse(lit(true))
    val sign = if (subtract) -1.0 else 1.0
    val a = col(s"l.`$HistCol`"); val b = col("r._rh")
    val layoutOk = assert_true(
      size(a.getField("les")) === size(b.getField("les")),
      lit("PromQLHist.histArith: incompatible bucket layouts between " +
        "operands"))
    val combined = struct(
      (a.getField("count") + lit(sign) * b.getField("count")).as("count"),
      (a.getField("sum") + lit(sign) * b.getField("sum")).as("sum"),
      when(layoutOk.isNull, a.getField("les")).as("les"),
      when(layoutOk.isNull,
        zip_with(a.getField("counts"), b.getField("counts"),
          (x, y) => x + lit(sign) * y)).as("counts"))
    la.join(ra, cond).select(
      keys.map(k => col(s"l.`$k`").as(k)) ++
        lg.map(g => col(s"l.`$g`").as(g)) ++
        rg.filterNot(lg.contains).map(g => col(s"r.`$g`").as(g)) :+
        combined.as(HistCol): _*)
  }

  /** `vA and|or|unless vB` — PromQL set operators between vector
    * frames of ANY value shape (histogram `hist` column, float
    * `value` column, or — via the HTTP router's split-tier path — one
    * of each): pure label-identity MEMBERSHIP (values never
    * consulted), surviving rows UNCHANGED (metric name included, as in
    * Prometheus). Matching keys follow [[histArith]]'s contract —
    * default = union of label names minus the metric name, or
    * `on(keys)`/`ignoring(keys)`. `and` = left-semi join against the
    * right's distinct key set, `unless` = left-anti, `or` = left plus
    * the right rows with NO left partner (schemas union by name —
    * labels one side lacks pad NULL ≡ absent; a mixed-shape `or`
    * yields rows carrying exactly one of `hist`/`value`, the API's
    * side-by-side vector entries). Scale shape: the joins carry
    * series-count key tuples, never payloads. */
  def setOpFrames(op: String, lv: DataFrame, rv: DataFrame,
                  on: Seq[String], ignoring: Seq[String],
                  metric: String = "__name__"): DataFrame = {
    val keys =
      if (on.nonEmpty) on
      else arithKeys(lv, rv, metric).filterNot(ignoring.contains(_))
    val grid = Seq("bucket", "t").filter(c =>
      lv.columns.contains(c) && rv.columns.contains(c))
    // one side's keys projected BARE + distinct — the membership set
    def keySet(df: DataFrame): DataFrame =
      df.select(keys.map { k =>
        if (df.columns.contains(labelColName(k))) labelCol(k).as(k)
        else if (df.columns.contains(k)) col(s"`$k`").as(k)
        else lit(null).cast("string").as(k)
      } ++ grid.map(c => col(s"`$c`")): _*).distinct()
    // kept side resolves each key wide/bare/NULL, null-safely equal to
    // the membership set's bare column (the float tier's keptKeyCond)
    def cond(kept: DataFrame): Column =
      (keys.map { k =>
        val c =
          if (kept.columns.contains(labelColName(k)))
            col(s"l.`${labelColName(k)}`")
          else if (kept.columns.contains(k)) col(s"l.`$k`")
          else lit(null).cast("string")
        c <=> col(s"r.`$k`")
      } ++ grid.map(g => col(s"l.`$g`") <=> col(s"r.`$g`")))
        .reduceOption(_ && _).getOrElse(lit(true))
    op match {
      case "and" =>
        lv.as("l").join(keySet(rv).as("r"), cond(lv), "left_semi")
      case "unless" =>
        lv.as("l").join(keySet(rv).as("r"), cond(lv), "left_anti")
      case "or" =>
        val rOnly = rv.as("l")
          .join(keySet(lv).as("r"), cond(rv), "left_anti")
        // unify the two sides' label spellings before the union — a
        // bare aggregation key on one side and the same key wide on
        // the other must not become two half-NULL columns
        TsdbSchema.alignLabelSpellings(lv, rOnly).unionByName(
          TsdbSchema.alignLabelSpellings(rOnly, lv),
          allowMissingColumns = true)
    }
  }

  /** Shared key columns of two aggregation-SHARE frames (the same
    * aggregation evaluated on the native store and on the float
    * store): the bare group keys plus the grid column in range mode —
    * the join axis of the mixed-type aggregation kernels below. */
  private def shareKeys(h: DataFrame, f: DataFrame): Seq[String] =
    h.columns.toSeq.intersect(f.columns.toSeq)
      .filterNot(Set(HistCol, TimeCol, TsdbSchema.ValueCol))

  /** Prometheus 3's sum/avg MIXED-TYPE rule per aggregation group
    * over a selector spanning both stores: a group whose members are
    * ALL histograms answers the histogram share's row, a group of ALL
    * floats the float share's row, and a group with BOTH kinds is
    * REMOVED (the engine's two stores make the split exact: the same
    * aggregation evaluates once per store and the groups compose by
    * key). Returns the composed frame and whether any group was
    * removed — the caller surfaces that as Prometheus's
    * mixed-samples warning annotation, never silently. Shares are
    * group-count-sized; the joins are membership-only. */
  def exclusiveAggShares(h0: DataFrame, f0: DataFrame)
      : (DataFrame, Boolean) = {
    // each share feeds THREE consumers (its own anti-join, the other
    // side's key set, the mixed probe) — materialize the group-count-
    // sized aggregations once (localCheckpoint: no unpersist
    // obligation, the ContextCleaner reclaims) instead of re-running
    // both stores' scans per consumer. Label SPELLINGS align first:
    // the hist tier's without-grouping emits BARE key columns while
    // the float tier keeps them WIDE — an unaligned intersection
    // would be empty and both anti-joins silently dropped everything
    // (the round-18 or-union bug's aggregation-share twin).
    val h = TsdbSchema.alignLabelSpellings(h0, f0).localCheckpoint(true)
    val f = TsdbSchema.alignLabelSpellings(f0, h0).localCheckpoint(true)
    val keys = shareKeys(h, f)
    def cond = keys.map(k => col(s"l.`$k`") <=> col(s"r.`$k`"))
      .reduceOption(_ && _).getOrElse(lit(true))
    val hKeys = h.select(keys.map(k => col(s"`$k`")): _*).distinct()
    val fKeys = f.select(keys.map(k => col(s"`$k`")): _*).distinct()
    val hOnly = h.as("l").join(fKeys.as("r"), cond, "left_anti")
    val fOnly = f.as("l").join(hKeys.as("r"), cond, "left_anti")
    val mixed = !h.as("l").join(fKeys.as("r"), cond, "left_semi").isEmpty
    (hOnly.unionByName(fOnly, allowMissingColumns = true), mixed)
  }

  /** `count` over a spanning selector: count is sample-type-AGNOSTIC
    * in Prometheus, so the two shares' per-group counts ADD (full
    * outer by key — a group present in one store only keeps its own
    * count). Both shares carry (keys, value). */
  def combineCountShares(h0: DataFrame, f0: DataFrame): DataFrame = {
    // spelling alignment: see [[exclusiveAggShares]]
    val h = TsdbSchema.alignLabelSpellings(h0, f0)
    val f = TsdbSchema.alignLabelSpellings(f0, h0)
    val keys = shareKeys(h, f)
    def norm(df: DataFrame): DataFrame =
      df.select(keys.map(k => col(s"`$k`")) :+
        col(TsdbSchema.ValueCol): _*)
    norm(h).unionByName(norm(f))
      .groupBy(keys.map(k => col(s"`$k`")): _*)
      .agg(sum(col(TsdbSchema.ValueCol)).as(TsdbSchema.ValueCol))
      .where(col(TsdbSchema.ValueCol).isNotNull)
  }

  /** Key/frame normalization for the PER-SERIES share composers over
    * RANGE-function outputs (`count_over_time({job="x"}[1h])` read
    * from both stores): label spellings align, the key set is the
    * UNION of both sides' label columns (the aggregation composers'
    * INTERSECT keys are per-GROUP — here they would merge DISTINCT
    * series whose extra labels only one store carries), a label
    * missing on one side pads NULL (null-safe matching keeps such
    * rows distinct), and a grid column (`t`/`bucket`) is a key only
    * when BOTH sides carry it — the instant endpoint's constant axis
    * drops. Shares are series×steps-sized range-function outputs,
    * never sample-sized. */
  private def seriesShareFrames(h0: DataFrame, f0: DataFrame,
                                metric: String, keepName: Boolean = false)
      : (DataFrame, DataFrame, Seq[String]) = {
    // the METRIC-NAME label strips from both shares first: the hist
    // tier's folds drop it (Prometheus's over-time contract) while
    // the float tier keeps it as an ordinary label (the engine's
    // pinned data model) — unaligned, a migrated series' two shares
    // could never meet on one key. Post-strip, a key BOTH shares
    // produced reads as ONE series straddling its migration point
    // (pinned: a native metric and a DIFFERENT float metric sharing
    // a full non-name label set are indistinguishable post-drop and
    // compose as one series); ≥ 2 rows on one key WITHIN a share is
    // Prometheus's duplicate-labelset error — raised in-plan by
    // [[dupLabelsetGuard]], never a silent merge. `keepName` = the
    // last/first_over_time composition, whose folds KEEP the name on
    // both tiers — the name is a key there and metrics never collide.
    val hN = if (keepName) h0 else dropMetric(metric)(h0)
    val fN = if (keepName) f0 else dropMetric(metric)(f0)
    val h1 = TsdbSchema.alignLabelSpellings(hN, fN).drop(TimeCol)
    val f1 = TsdbSchema.alignLabelSpellings(fN, hN).drop(TimeCol)
    def stripLonelyGrid(df: DataFrame, other: DataFrame): DataFrame =
      Seq("t", "bucket").foldLeft(df)((d, g) =>
        if (d.columns.contains(g) && !other.columns.contains(g)) d.drop(g)
        else d)
    val h2 = stripLonelyGrid(h1, f1)
    val f2 = stripLonelyGrid(f1, h1)
    val keys = (h2.columns ++ f2.columns).distinct.toSeq
      .filterNot(Set(HistCol, TsdbSchema.ValueCol).contains)
    def pad(df: DataFrame, other: DataFrame): DataFrame =
      keys.foldLeft(df)((d, k) =>
        if (d.columns.contains(k)) d
        else d.withColumn(k, lit(null).cast(other.schema(k).dataType)))
    (dupLabelsetGuard(pad(h2, f2), keys),
      dupLabelsetGuard(pad(f2, h2), keys), keys)
  }

  /** Prometheus's "vector cannot contain metrics with the same
    * labelset" for the composed over-time paths: after the name drop,
    * two input series of one share landing on one (labels, step) key
    * are different metrics colliding — Prometheus errors, and so does
    * the engine, IN-PLAN (a window count poisons the payload with
    * `raise_error`, so the collect raises and the HTTP layer maps it
    * to the 422 execution class; a silent merge would mis-add two
    * unrelated metrics). The window partitions by the same keys the
    * downstream composition groups/joins on, over series×steps-sized
    * frames — never samples. */
  private def dupLabelsetGuard(df: DataFrame, keys: Seq[String])
      : DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(k => col(s"`$k`")): _*)
    val n = count(lit(1)).over(w)
    val poison = raise_error(lit("vector cannot contain metrics with " +
      "the same labelset: an over-time function dropped the metric " +
      "name and two series collided on one label set"))
    Seq(HistCol, TsdbSchema.ValueCol).filter(df.columns.contains(_))
      .foldLeft(df)((d, c) =>
        d.withColumn(c, when(n > 1, poison).otherwise(col(s"`$c`"))))
  }

  /** `count_over_time`/`present_over_time` (and the `ts_of_*` family)
    * over a both-stores selector: sample-type-AGNOSTIC per
    * (series, window) — Prometheus counts float and histogram samples
    * alike, so a series straddling its migration point inside one
    * window ADDS its unshadowed float samples to its native ones
    * (`"sum"`); presence clamps to one row (`"max"`), the earliest
    * timestamp keeps the minimum (`"min"`). `metric`: the served
    * table's [[TsdbSchema.metricLabel]], here and below. */
  def combineSeriesShares(h0: DataFrame, f0: DataFrame, how: String,
                          metric: String,
                          keepName: Boolean = false): DataFrame = {
    val (h, f, keys) = seriesShareFrames(h0, f0, metric, keepName)
    def norm(df: DataFrame): DataFrame =
      df.select(keys.map(k => col(s"`$k`")) :+
        col(TsdbSchema.ValueCol).cast("double")
          .as(TsdbSchema.ValueCol): _*)
    val agg = how match {
      case "sum" => sum(col(TsdbSchema.ValueCol))
      case "min" => min(col(TsdbSchema.ValueCol))
      case _ => max(col(TsdbSchema.ValueCol))
    }
    norm(h).unionByName(norm(f))
      .groupBy(keys.map(k => col(s"`$k`")): _*)
      .agg(agg.as(TsdbSchema.ValueCol))
  }

  /** `sum_over_time`/`avg_over_time`/`rate`/`increase`/`delta` over a
    * both-stores selector: per (series, window) EXCLUSIVE —
    * Prometheus 3 skips a series whose range window mixes float and
    * histogram samples with the mixed-samples warning, and in the
    * two-store engine that is exactly a key BOTH shares produced.
    * Type-preserving: each surviving row keeps its own payload (the
    * histogram column or the float value). Returns the composed frame
    * and whether any (series, window) was dropped. */
  def exclusiveSeriesShares(h0: DataFrame, f0: DataFrame, metric: String)
      : (DataFrame, Boolean) = {
    val (h1, f1, keys) = seriesShareFrames(h0, f0, metric)
    // three consumers per share (own anti-join, other side's key set,
    // the mixed probe) — materialize once, as [[exclusiveAggShares]]
    val h = h1.localCheckpoint(true)
    val f = f1.localCheckpoint(true)
    def cond = keys.map(k => col(s"l.`$k`") <=> col(s"r.`$k`"))
      .reduceOption(_ && _).getOrElse(lit(true))
    val hKeys = h.select(keys.map(k => col(s"`$k`")): _*).distinct()
    val fKeys = f.select(keys.map(k => col(s"`$k`")): _*).distinct()
    val hOnly = h.as("l").join(fKeys.as("r"), cond, "left_anti")
    val fOnly = f.as("l").join(hKeys.as("r"), cond, "left_anti")
    val mixed = !h.as("l").join(fKeys.as("r"), cond, "left_semi").isEmpty
    (hOnly.unionByName(fOnly, allowMissingColumns = true), mixed)
  }

  /** Scale every additive component of a HISTOGRAM-row frame by a
    * constant — `hist * s` / `hist / s` under the mixed lattice's
    * vector-scalar wrapper (arithmetic drops the metric name, as the
    * scalar kernels do). */
  def scaleHistFrame(hv: DataFrame, factor: Double,
                     metric: String): DataFrame =
    dropMetric(metric)(hv).withColumn(HistCol, histScale(col(HistCol),
      lit(factor)))

  /** `last_over_time`/`first_over_time` over a both-stores selector:
    * type-PRESERVING winner by SAMPLE TIME per (series, window) —
    * Prometheus returns the latest (earliest) sample regardless of
    * kind, so a straddling window compares the two shares' own
    * `ts_of_*` folds and keeps exactly one row (never a skip, never
    * both; a post-rollback float sample outranks the stale native
    * band, a post-migration native one outranks the float history).
    * These folds KEEP the metric name on both tiers, so the key set
    * retains it and different metrics never collide. All four frames
    * are series×steps-sized fold outputs; the joins are key-sized. */
  def pickByTimeShares(hPay0: DataFrame, hTs0: DataFrame,
                       fPay0: DataFrame, fTs0: DataFrame,
                       latest: Boolean, metric: String): DataFrame = {
    val (h, f, keys) =
      seriesShareFrames(hPay0, fPay0, metric, keepName = true)
    val (ht, ft, _) = seriesShareFrames(hTs0, fTs0, metric, keepName = true)
    def cond = keys.map(k => col(s"l.`$k`") <=> col(s"r.`$k`"))
      .reduceOption(_ && _).getOrElse(lit(true))
    def withTs(pay: DataFrame, ts: DataFrame): DataFrame = {
      val payCols = Seq(HistCol, TsdbSchema.ValueCol)
        .filter(pay.columns.contains(_))
      pay.as("l").join(ts
          .select(keys.map(k => col(s"`$k`")) :+
            col(TsdbSchema.ValueCol).as("_ts"): _*).as("r"),
        cond, "inner")
        .select(keys.map(k => col(s"l.`$k`").as(k)) ++
          payCols.map(c => col(s"l.`$c`").as(c)) :+ col("r.`_ts`"): _*)
    }
    val u0 = withTs(h, ht).unionByName(withTs(f, ft),
      allowMissingColumns = true)
    val u = Seq(HistCol, TsdbSchema.ValueCol).filterNot(
        u0.columns.contains(_))
      .foldLeft(u0)((d, c) => d.withColumn(c, lit(null)))
    val payload = struct(col(HistCol), col(TsdbSchema.ValueCol))
    val picked = u.groupBy(keys.map(k => col(s"`$k`")): _*)
      .agg((if (latest) max_by(payload, col("_ts"))
            else min_by(payload, col("_ts"))).as("_p"))
    picked.select(keys.map(k => col(s"`$k`")) ++ Seq(
      col("_p").getField(HistCol).as(HistCol),
      col("_p").getField(TsdbSchema.ValueCol).as(TsdbSchema.ValueCol)): _*)
  }

  /** Default-matching key set between two vector frames: the union of
    * both sides' bare label names — metric-name labels and the
    * value/time/grid columns excluded.
    *
    * WIDE-SCHEMA ASSUMPTION: a frame's COLUMNS are taken to be its
    * observed label universe — selector output carries a `labels.<k>`
    * column for every label any selected series has, aggregation
    * output carries exactly its grouping keys bare. Under that
    * invariant (which every [[eval]]/[[evalRange]] product satisfies
    * by construction), "column set = label universe" and the
    * one-to-one guard windows on the same derived keys, so no wrong
    * match is reachable. A BARE frame from outside the evaluators
    * that dropped one of its labels' columns would silently WIDEN the
    * match group (the key falls out of the set on both the join and
    * the guard) — such callers must pre-normalize. The require below
    * rejects the detectable corruption: the same key spelled both
    * wide (`labels.k`) and bare (`k`) in one frame. */
  private def arithKeys(l: DataFrame, r: DataFrame,
                        metric: String): Seq[String] = {
    def names(df: DataFrame): Seq[String] = {
      val bare = df.columns.toSeq
        .filterNot(Seq(HistCol, TimeCol, TsdbSchema.ValueCol,
          "rvalue", "rank", "t", "bucket").contains(_))
        .map(_.stripPrefix(TsdbSchema.LabelPrefix))
        .filterNot(_ == metric)
      // an INTERNAL frame-normalization invariant, not a client input
      // error: IllegalStateException so the HTTP layer maps it to the
      // execution class, never 400 bad_data (the query was well-formed)
      if (bare.distinct.size != bare.size)
        throw new IllegalStateException(
          "PromQLHist.arithKeys: a match key is spelled both wide " +
            "(labels.k) and bare (k) in one frame — pre-normalize " +
            s"before matching (columns: ${df.columns.mkString(", ")})")
      bare
    }
    val ln = names(l)
    ln ++ names(r).filterNot(ln.contains(_))
  }

  /** Project a vector frame to bare match-key columns (+ its grid
    * columns) + its payload column (`valueCol`: the histogram, or a
    * float `value`) aliased `as` — the [[PromQL]] `keyed`
    * normalization: each key resolves wide (`labels.k`), bare (`k`,
    * an aggregation output), or NULL when absent. */
  private def keyedH(hv: DataFrame, keys: Seq[String], as: String,
                     grid: Seq[String],
                     valueCol: String = HistCol): DataFrame =
    hv.select(keys.map { k =>
      if (hv.columns.contains(labelColName(k))) labelCol(k).as(k)
      else if (hv.columns.contains(k)) col(s"`$k`").as(k)
      else lit(null).cast("string").as(k)
    } ++ grid.map(col) :+ col(s"`$valueCol`").as(as): _*)

  /** `hist × fv` / `hist ÷ fv` — scale a HISTOGRAM vector by a
    * MATCHED float vector under PromQL one-to-one matching
    * (`native_latency / on(instance) scrape_count`): [[histArith]]'s
    * keyed null-safe equi-join with [[histScale]] as the combine —
    * every additive component × v (or × 1/v). The metric name drops
    * (arithmetic transforms the value). The float side may itself
    * come from this tier (`m / histogram_count(m)`) or — through the
    * HTTP router's split-tier path — from the float store. Duplicate
    * series per match group on either side are Prometheus's
    * many-to-many error. Scale shape: both sides are
    * series-count-sized keyed vectors (× grid steps); the join
    * shuffles key tuples + one struct, never samples. */
  private[tsdb] def scaleByVector(hv: DataFrame, fv: DataFrame,
                                  divide: Boolean, metric: String,
                                  on: Seq[String] = Nil,
                                  ignoring: Seq[String] = Nil): DataFrame = {
    require(fv.columns.contains(TsdbSchema.ValueCol),
      "scaleByVector: the scaling side must be a float instant vector")
    val keys =
      if (on.nonEmpty) on
      else arithKeys(hv, fv, metric).filterNot(ignoring.contains(_))
    val lg = Seq("bucket", "t").filter(hv.columns.contains)
    val rg = Seq("bucket", "t").filter(fv.columns.contains)
    val shared = lg.intersect(rg)
    val la = oneToOneGuard(keyedH(hv, keys, HistCol, lg), HistCol, "left")
      .as("l")
    val ra = oneToOneGuard(keyedH(fv, keys, "_rv", rg,
      valueCol = TsdbSchema.ValueCol), "_rv", "right").as("r")
    val cond = (keys ++ shared)
      .map(k => col(s"l.`$k`") <=> col(s"r.`$k`"))
      .reduceOption(_ && _).getOrElse(lit(true))
    val f = if (divide) lit(1.0) / col("r._rv") else col("r._rv")
    la.join(ra, cond).select(
      keys.map(k => col(s"l.`$k`").as(k)) ++
        lg.map(g => col(s"l.`$g`").as(g)) ++
        rg.filterNot(lg.contains).map(g => col(s"r.`$g`").as(g)) :+
        histScale(col(s"l.`$HistCol`"), f).as(HistCol): _*)
  }

  /** The raw-samples query over the NATIVE-HISTOGRAM head — the hist
    * twin of [[PromQL.rawRange]] (`native[5m]` at the instant
    * endpoint, resultType `matrix` with `histograms` pair lists): the
    * matched snapshots with their ORIGINAL timestamps over the
    * left-open window. Stale (NULL-hist) markers drop. */
  def rawRange(e: Expr, hists: DataFrame, at: Long,
               start: Long, end: Long): DataFrame = e match {
    case Selector(ms0, Some(rangeMs), off, atm) =>
      val ms = PromQL.anchorMatchers(ms0)
      val t0 = resolveAt(atm, at, start, end) - off
      val known = TsdbSchema.labelColumns(hists)
        .map(_.stripPrefix(TsdbSchema.LabelPrefix)).toSet
      val labels = TsdbSchema.dynCols(hists)
      hists.where(MatcherCompiler.compileAll(ms, known) &&
          col(TimeCol) > t0 - rangeMs && col(TimeCol) <= t0 &&
          col(HistCol).isNotNull)
        .select(labels :+ col(TimeCol).as("t") :+ col(HistCol): _*)
    case other => throw new IllegalArgumentException(
      "rawRange needs a bare range selector, got " + PromQL.render(other))
  }

  /** A BARE subquery over the hist head (`rate(native[5m])[1h:5m]` at
    * the instant endpoint, resultType `matrix`): the float tier's
    * subquery grid with THIS tier's [[evalRange]] as the inner
    * evaluator — histogram-valued inners yield the `histograms`
    * matrix, float-evaluable inners the standard one. */
  def subqueryMatrix(e: Expr, hists: DataFrame, at: Long,
                     lookbackMs: Long, nLes: Int): DataFrame = e match {
    case Subquery(inner, rangeMs, stepMs, off, atm) =>
      histSubqueryGrid(inner, rangeMs, stepMs,
        resolveAt(atm, at, at, at) - off, hists, lookbackMs, nLes)
    case other => throw new IllegalArgumentException(
      "subqueryMatrix needs a bare subquery, got " + PromQL.render(other))
  }

  /** Instant-mode histogram subquery grid: the inner expression over
    * the absolute-aligned points u ≡ 0 (mod stepMs) in
    * (sqEnd − range, sqEnd] — ONE [[evalRange]] pass (the float
    * tier's subqueryFold grid contract: left-open, so an
    * exactly-aligned point at sqEnd − range is excluded). Output
    * carries the grid column `t`. */
  private def histSubqueryGrid(inner: Expr, rangeMs: Long, stepMs: Long,
                               sqEnd: Long, hists: DataFrame,
                               lookbackMs: Long, nLes: Int): DataFrame =
    evalRange(inner, hists, PromQL.gridStartAfter(sqEnd - rangeMs, stepMs),
      sqEnd, stepMs, lookbackMs, nLes)

  /** Range-mode histogram subquery decomposition: the inner evaluates
    * ONCE over the covering absolute-aligned grid (u ≡ 0 mod sqStep,
    * spanning every outer window — the float tier's subqueryFoldRange
    * contract), then each inner point u fans to the outer steps t
    * with u ∈ (t − off − range, t − off] — an explode of small longs
    * over the series × inner-grid frame, never a grid per grid point.
    * Output: labels + `time` (the inner point, the fold's time axis)
    * + `t` (the outer step) + `hist`. */
  private def histSubqueryFanned(inner: Expr, rangeMs: Long, sqStep: Long,
                                 off: Long, hists: DataFrame, start: Long,
                                 end: Long, stepMs: Long, lookbackMs: Long,
                                 nLes: Int): DataFrame = {
    val uStart = PromQL.gridStartAfter(start - off - rangeMs, sqStep)
    val uEnd = Math.floorDiv(end - off, sqStep) * sqStep
    val grid = evalRange(inner, hists, uStart, uEnd, sqStep, lookbackMs,
      nLes).withColumnRenamed("t", TimeCol)
    val nSteps = (end - start) / stepMs
    grid
      .withColumn("_ilo", greatest(lit(0L),
        ceil((col(TimeCol) + off - start) / stepMs.toDouble).cast("long")))
      .withColumn("_ihi", least(lit(nSteps),
        floor((col(TimeCol) + off + (rangeMs - 1) - start) / stepMs.toDouble)
          .cast("long")))
      .where(col("_ilo") <= col("_ihi"))
      .withColumn("_i", explode(sequence(col("_ilo"), col("_ihi"))))
      .withColumn("t", lit(start) + col("_i") * stepMs)
      .drop("_ilo", "_ihi", "_i")
  }

  /** Deterministic, engine-portable series identity over a HISTOGRAM
    * frame — the float tier's series-key contract ("col=value" pairs
    * over the sorted label columns, absent → empty) with the
    * histogram payload excluded: the basis for `limitk`'s
    * deterministic order and `limit_ratio`'s stable hash band. */
  private def histSeriesKey(hv: DataFrame): Column = {
    val reserved = Set(TsdbSchema.TimeCol, TsdbSchema.ValueCol, HistCol,
      "t", "bucket")
    val idCols = hv.columns.toSeq.filterNot(reserved).sorted
    concat_ws(",", idCols.map(c =>
      concat(lit(c + "="),
        coalesce(col(s"`$c`").cast("string"), lit("")))): _*)
  }

  /** `limitk(k, v)` over a HISTOGRAM vector — Prometheus's "any k
    * series" made deterministic as the k FIRST series in label order
    * (the float tier's documented refinement); rows survive
    * UNCHANGED. Grouped (`by`/`without`) and grid-keyed frames rank
    * within each partition (a partitioned window — no global sort);
    * the global instant form is orderBy+limit, the TakeOrdered k-heap
    * shape. */
  private def histLimitK(hv: DataFrame, k: Int, by: Seq[String],
                         without: Seq[String], metric: String): DataFrame = {
    // `without` partitions: every label but the listed ones and the
    // metric name (the float tier's withoutGroupCols contract)
    val parts = (if (without.nonEmpty)
                   labelColsExcept(hv, without.toSet + metric)
                     .map(c => col(s"`$c`"))
                 else by.map(partCol(hv, _))) ++ gridKeys(hv)
    if (parts.nonEmpty)
      hv.withColumn("_rk", row_number().over(
          Window.partitionBy(parts: _*).orderBy(histSeriesKey(hv).asc)))
        .where(col("_rk") <= k).drop("_rk")
    else hv.orderBy(histSeriesKey(hv).asc).limit(k)
  }

  /** `limit_ratio(r, v)` over a HISTOGRAM vector: the float tier's
    * portable hash band ([[PromQL.ratioBandOn]] — the ONE copy of the
    * band arithmetic) on this frame's series identity, so
    * `limit_ratio(r, v)` ∪ `limit_ratio(r − 1, v)` = v exactly and the
    * two tiers can never diverge. Label-only, hence stable across
    * grid steps. */
  private def histLimitRatio(hv: DataFrame, r: Double): DataFrame =
    hv.where(PromQL.ratioBandOn(histSeriesKey(hv), r))

  /** [[histLimitK]] / [[histLimitRatio]] exposed for ANY vector
    * frame: the kernels are payload-agnostic (the series key excludes
    * the value AND histogram columns), so the spanning-selector MIXED
    * union — float `value` and native `hist` rows side by side —
    * samples with the same deterministic label order / hash band as
    * either tier alone. Prometheus 3's limitk/limit_ratio are
    * type-agnostic: k series regardless of sample kind. */
  def limitKFrame(v: DataFrame, k: Int, metric: String,
                  by: Seq[String] = Nil,
                  without: Seq[String] = Nil): DataFrame =
    histLimitK(v, k, by, without, metric)

  def limitRatioFrame(v: DataFrame, r: Double): DataFrame =
    histLimitRatio(v, r)

  /** Window PARTITION BY expression (un-aliased — an alias inside a
    * partition spec is not a grouping key) for a `by` label: wide,
    * bare, or NULL when absent. */
  private def partCol(df: DataFrame, n: String): Column =
    if (df.columns.contains(labelColName(n))) labelCol(n)
    else if (df.columns.contains(n)) col(s"`$n`")
    else lit(null).cast("string")

  /** Prometheus's one-to-one matching guard: more than one series per
    * match-group key tuple on a side is an error, never a silent cross
    * product. The window shuffles on the same keys the join does. */
  private def oneToOneGuard(df: DataFrame, histAs: String,
                            side: String): DataFrame = {
    val w = Window.partitionBy(
      df.columns.filterNot(_ == histAs).map(c => col(s"`$c`")): _*)
    df.withColumn("_n1", count(lit(1)).over(w))
      .withColumn(histAs,
        when(assert_true(col("_n1") === 1,
          lit("PromQLHist: many-to-many matching — duplicate series " +
            s"per match group on the $side side")).isNull,
          col(s"`$histAs`")))
      .drop("_n1")
  }

  /** Fan one pinned instant evaluation out to every grid step — the
    * `@`-anchored selector's range-mode contract (the anchored value
    * repeats across the grid). An explode of grid longs over a
    * series-sized frame; never a per-step re-evaluation. */
  private def pinToGrid(iv: DataFrame, start: Long, end: Long,
                        stepMs: Long): DataFrame =
    iv.withColumn("t",
      explode(sequence(lit(start), lit(end), lit(stepMs))))

  /** `sum/avg [by|without] (v)` — histogram merge under the grouping,
    * same layout guard + static per-index unroll as
    * [[NativeHistogram.merge]]; avg scales the merged histogram by the
    * group's series count. Aggregations drop `__name__` (Prometheus)
    * unless it is an explicit `by` key. */
  private def mergeH(hv: DataFrame, keysOf: DataFrame => Seq[Column],
                     nLes: Int, scaleByN: Boolean): DataFrame = {
    val h = col(HistCol)
    val perIndex = (1 to nLes).map(i => sum(element_at(h.getField("counts"), i)))
    // null-safe (<=>): a GLOBAL aggregation (no grouping keys) over an
    // EMPTY match still produces one Spark row whose min/max are NULL —
    // `===` made assert_true raise on `sum({matches-nothing})` instead
    // of answering the empty vector; the `_n > 0` filter below drops
    // that empty-global row (Prometheus: sum over nothing is nothing)
    val layoutOk = assert_true(
      min(size(h.getField("les"))) <=> max(size(h.getField("les"))),
      lit("PromQLHist: incompatible bucket layouts in group"))
    val merged = hv.groupBy(keysOf(hv): _*)
      .agg(count(lit(1)).as("_n"),
        struct(
          sum(h.getField("count")).as("count"),
          sum(h.getField("sum")).as("sum"),
          when(layoutOk.isNull, first(h.getField("les"))).as("les"),
          when(layoutOk.isNull, array(perIndex: _*)).as("counts"))
          .as(HistCol))
      .where(col("_n") > 0)
    (if (scaleByN)
       merged.withColumn(HistCol,
         histScale(col(HistCol), lit(1.0) / col("_n")))
     else merged).drop("_n")
  }

  /** `count [by|without] (v)` — series count per group, a FLOAT vector. */
  private def countSeries(hv: DataFrame,
                          keysOf: DataFrame => Seq[Column]): DataFrame =
    hv.groupBy(keysOf(hv): _*)
      .agg(count(lit(1)).cast("double").as(TsdbSchema.ValueCol))
      // a GLOBAL count over an empty match must answer the empty
      // vector, not Spark's one empty-global 0-row (Prometheus)
      .where(col(TsdbSchema.ValueCol) > 0)

  /** Project a histogram vector to labels + a scalar of the histogram —
    * the terminal float-vector shape. Drops `__name__` (Prometheus:
    * histogram_* functions transform the value). */
  private def scalarize(hv: DataFrame, f: Column => Column): DataFrame = {
    val keep = hv.columns.filter(_ != HistCol)
      .map(c => col(s"`$c`")).toSeq
    dropMetric("__name__")(hv.select(keep :+
      f(col(HistCol)).cast("double").as(TsdbSchema.ValueCol): _*))
  }

  // ---- grouping-key resolution (mirrors the float tier's contract) ----

  /** `by (...)` keys: each label resolved as `labels.<n>` (selector
    * output) or bare `<n>` (aggregation output), aliased bare; plus any
    * implicit `bucket` grid column. */
  private def byKeys(df: DataFrame, by: Seq[String]): Seq[Column] =
    by.map { n =>
      if (df.columns.contains(labelColName(n))) labelCol(n).as(n)
      else if (df.columns.contains(n)) col(s"`$n`").as(n)
      else lit(null).cast("string").as(n)
    } ++ gridKeys(df)

  /** `without (...)` keys: every label column EXCEPT the named ones and
    * `__name__` (Prometheus drops the name in without() grouping). */
  private def withoutKeys(df: DataFrame, w: Seq[String]): Seq[Column] =
    labelColsExcept(df, w.toSet + "__name__")
      .map(c => col(s"`$c`").as(c.stripPrefix(TsdbSchema.LabelPrefix))) ++
      gridKeys(df)

  /** Every label column (wide or bare) whose label is not `excluded`. */
  private def labelColsExcept(df: DataFrame,
                              excluded: Set[String]): Seq[String] =
    df.columns.toSeq.filter { c =>
      (c.startsWith(TsdbSchema.LabelPrefix) || isBareLabel(df, c)) &&
        !excluded.contains(c.stripPrefix(TsdbSchema.LabelPrefix))
    }

  /** A bare (post-aggregation) label column: anything that is not the
    * histogram, a grid key, or the time axis. */
  private def isBareLabel(df: DataFrame, c: String): Boolean =
    c != HistCol && c != "bucket" && c != "t" && c != TimeCol

  /** Implicit grid columns: the tumbling `bucket` (instant-mode range
    * functions) and the query_range step `t` — both stay grouping keys
    * through every aggregation. */
  private def gridKeys(df: DataFrame): Seq[Column] =
    Seq("bucket", "t").filter(df.columns.contains).map(col)

  /** Folds returning RAW samples keep the metric name (Prometheus's
    * last/first_over_time contract). The ts_of extractors keep it too
    * — a PIN: Prometheus drops it there, but this engine's float tier
    * keeps `labels.name` through every fold (the ordinary-label data
    * model), and the cross-tier winner composition
    * ([[pickByTimeShares]]) joins each tier's payload fold to its ts
    * fold on the FULL key set, name included — dropping it on one
    * tier only would cross-wire metrics sharing non-name labels. */
  private val KeepNameFolds: Set[String] =
    Set("last_over_time", "first_over_time",
      "ts_of_last_over_time", "ts_of_first_over_time")

  /** Drop the metric-name label — `metric`, the stored frame's
    * [[TsdbSchema.metricLabel]], wide or bare — arithmetic and the
    * over-time folds transform the value, so Prometheus drops
    * `__name__` from their outputs. */
  private def dropMetric(metric: String)(df: DataFrame): DataFrame =
    df.drop(labelColName(metric)).drop(metric)

  private def resolveAt(atm: Option[AtAnchor], default: Long,
                        start: Long, end: Long): Long = atm match {
    case None => default
    case Some(AtMs(t)) => t
    case Some(AtStart) => start
    case Some(AtEnd) => end
  }
}
