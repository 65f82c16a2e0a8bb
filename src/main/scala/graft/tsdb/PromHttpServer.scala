package graft.tsdb

import java.net.InetSocketAddress
import java.net.URLDecoder
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ExecutorService, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import scala.util.control.NonFatal

/** A Prometheus-API-compatible HTTP SERVER over the engine — the
  * loopback JDK `com.sun.net.httpserver` wired to the library surfaces,
  * so a Grafana / promtool / remote-write client can speak to a Spark
  * cluster exactly as it would to a Prometheus:
  *
  *   - `/api/v1/query` (instant; vector and scalar result types) and
  *     `/api/v1/query_range` (matrix) — the full PromQL text front end,
  *     times as unix seconds (fractional ok) or RFC3339.
  *   - `/api/v1/labels`, `/api/v1/label/<n>/values`, `/api/v1/series` —
  *     repeated `match[]` selector TEXT ([[PromQL.parseMatchers]]:
  *     anchored regexes, bare-selector requirement); series REQUIRES at
  *     least one selector, as Prometheus does.
  *   - `/api/v1/query_exemplars` — the full-expression parameter
  *     ([[Exemplars.queryExpr]]), response grouped per series.
  *   - `/api/v1/status/tsdb` — cardinality statistics.
  *   - `/api/v1/format_query` / `/api/v1/parse_query` — [[QueryApi]].
  *   - `/federate` — text exposition of the matched current samples.
  *   - `/api/v1/write` (POST) — a REMOTE-WRITE RECEIVER: snappy prompb
  *     WriteRequests decode ([[RemoteWrite.decodeRequest]]) and append
  *     to the served table (schema evolution via union-by-name, so new
  *     label names widen the head exactly like the ingest path).
  *   - `/api/v1/read` (POST) — the remote-read SAMPLED responder
  *     ([[RemoteRead.serve]]).
  *
  * Responses use the API envelope (`{"status":"success","data":…}`,
  * errors as `bad_data` with HTTP 400). The server binds loopback only;
  * queries evaluate on the caller's SparkSession — the HTTP layer is a
  * thin adapter, every data-sized operation stays a Spark plan (the
  * driver only collects API-response-sized results, exactly what any
  * Prometheus HTTP layer materializes).
  */
final class PromHttpServer(spark: SparkSession, initial: DataFrame,
                           exemplars: Option[DataFrame] = None,
                           metadata: Option[DataFrame] = None,
                           lookbackMs: Long = 300000L,
                           rules: Option[String] = None,
                           rulesIntervalMs: Long = 60000L,
                           rulesHorizonMs: Long = 86400000L,
                           externalLabels: Seq[(String, String)] = Nil,
                           histSchemaId: Int = 0, histMinExp: Int = 0,
                           histMaxExp: Int = 9,
                           dataDir: Option[String] = None,
                           adminApi: Boolean = false,
                           alertmanagers: Seq[String] = Nil,
                           resolvedRetentionMs: Long = 900000L,
                           // Prometheus's remote_read_sample_limit
                           // default (5e7); 0 = unlimited
                           remoteReadSampleLimit: Long = 50000000L,
                           // Prometheus's created-timestamp-zero-
                           // ingestion feature flag (default off, as
                           // there): inject a 0 sample at a series'
                           // created/start time — OTLP counters'
                           // start_time_unix_nano AND remote-write
                           // 2.0's created_timestamp — so counter-
                           // reset detection sees the reset
                           createdZeroIngestion: Boolean = false) {

  import PromHttpServer.{Memo, MixedTier, Rejection, Routed, SparseRow,
    UnsupportedHist}

  private var server: HttpServer = _
  private val startedAt: Long = System.currentTimeMillis()

  /** RECEIVER LINEAGE CONTROL. Every push appends one `Union` node to
    * the head's logical plan; left unchecked, a long-running receiver's
    * plan grows one node per request — analysis cost and driver memory
    * grow linearly and every query re-plans the whole chain. So every
    * [[ConsolidateEvery]] appends the head is `localCheckpoint`ed
    * (eager): the union materializes into block-manager storage and the
    * logical plan collapses to a single leaf — the same shape as
    * Prometheus's own head, whose samples live in memory until flushed.
    * Superseded checkpoint RDDs are unreferenced afterwards and the
    * ContextCleaner evicts them. Queries between consolidations see at
    * most `ConsolidateEvery` unions. Each head counts its own appends. */
  private val ConsolidateEvery = 32

  private def boundLineage(df: DataFrame, appends: Int): DataFrame =
    if (appends % ConsolidateEvery == 0) df.localCheckpoint(true) else df

  /** A WIDE head — the float samples or the exemplars — and the number
    * of appends that built it. A push's rows are a one-append head of
    * their own ([[floatBatch]], [[exemplarBatch]]). */
  private final class Head(val df: DataFrame, val appends: Int) {
    def append(batch: Head): Head = {
      val n = appends + 1
      new Head(boundLineage(
        df.unionByName(batch.df, allowMissingColumns = true), n), n)
    }

    /** The metric names the head stores — the wide frame's
      * `labels.name` universe (API-sized: a distinct over the
      * dictionary-encoded name column), memoized on the head, so a push
      * that leaves this head alone keeps it. Concurrent first readers
      * wait on the memo and share its one job. */
    lazy val names: Set[String] = {
      val nameCol = TsdbSchema.labelColName("name")
      if (!df.columns.contains(nameCol)) Set.empty
      else df.select(col(s"`$nameCol`"))
        .where(col(s"`$nameCol`").isNotNull)
        .distinct().collect().map(_.getString(0)).toSet
    }
  }

  /** NATIVE HISTOGRAMS pushed over remote write or OTLP: `dense`
    * frames on the server's (schema, minExp, maxExp) grid, which the
    * PromQL hist tier reads, and the same samples in FULL-fidelity
    * `sparse` form, which the chunked remote-read responder streams
    * back as histogram chunks. `names` is the metric-name set the head
    * stores, kept driver-side (exact, no Spark job); it gates the
    * per-selector native-vs-classic routing. A push's histograms are a
    * one-append head of their own ([[histBatch]]). */
  private final class HistHead(val dense: DataFrame,
                               val sparse: Dataset[SparseRow],
                               val names: Set[String], val appends: Int) {
    def append(batch: HistHead): HistHead = {
      import spark.implicits._
      val n = appends + 1
      new HistHead(
        boundLineage(
          dense.unionByName(batch.dense, allowMissingColumns = true), n),
        boundLineage(sparse.toDF().unionByName(batch.sparse.toDF()), n)
          .as[SparseRow],
        names ++ batch.names, n)
    }

    /** Per native SERIES (full label set): the FIRST native sample's
      * time — the migration point from which the native store owns the
      * series ([[Shadowing.seriesSince]]; every read surface's
      * time-aware float shadowing joins against it). Series-universe-
      * sized and `localCheckpoint`ed: one small Spark job per hist
      * head, memoized on it like [[Head.names]]. Keyed per SERIES, not
      * per name: a partial fleet migration (some instances still
      * pushing float under a migrated name) must keep its unmigrated
      * series serving on every surface. */
    lazy val seriesSince: DataFrame =
      Shadowing.seriesSince(dense, lookbackMs).localCheckpoint(true)
  }

  /** ONE SNAPSHOT of the served heads: the float head, the
    * native-histogram head (once a histogram arrived) and the exemplar
    * head (when exemplar storage is on). Immutable: a push publishes a
    * new snapshot once ([[publish]]), and a request reads one snapshot
    * when it starts ([[Span]] carries it through routing). So a query
    * sees a push whole or not at all, as Prometheus's head isolation
    * guarantees for a committed appender, and every store-membership
    * gate of one request answers for the same heads. */
  private final class Heads(val float: Head, val hist: Option[HistHead],
                            val exemplars: Option[Head]) {

    /** This snapshot with one push's batches appended. A head the push
      * leaves alone carries over, memos included. */
    def append(floats: Option[Head], hists: Option[HistHead],
               exs: Option[Head]): Heads =
      new Heads(floats.fold(float)(float.append),
        hists.map(b => hist.fold(b)(_.append(b))).orElse(hist),
        exs.map(b => exemplars.fold(b)(_.append(b))).orElse(exemplars))

    def histNames: Set[String] = hist.fold(Set.empty[String])(_.names)

    def seriesSince: Option[DataFrame] = hist.map(_.seriesSince)

    /** Per-SELECTOR native-vs-classic preference: Prometheus resolves
      * native-over-classic when the SELECTOR's metric has both forms —
      * not globally per function name — so a `histogram_*` call routes
      * to the pushed-native head only when a selector inside it names a
      * metric that head actually stores. Without this gate, one pushed
      * native histogram silently turned every classic-bucket query
      * (`histogram_quantile(0.9, rate(m_bucket[5m]))`) into an empty
      * hist-head evaluation. Nameless selectors (`{job="x"}`) keep the
      * head routing — under a histogram_* function they have no classic
      * float-tier reading. The metric matcher may be spelled either way:
      * `__name__` (the bare-prefix form `m{...}` and wire matchers) or
      * `name` (this engine's storage metric label, which the text
      * surface addresses directly — `{name="m"}`).
      *
      * Routing granularity is the WHOLE expression: it routes to the
      * hist head only when EVERY name-bearing selector resolves to a
      * stored native metric (`forall`, not `exists` — an expression
      * mixing a native and a classic-bucket selector, e.g. a BinOp of
      * two `histogram_quantile` calls, evaluates on the classic float
      * tier, where the `_bucket` side has real readings; under `exists`
      * the classic selector would silently read the hist head and come
      * back empty). A per-selector split evaluation would need a mixed
      * vector merge the response shape doesn't carry. */
    def routesToHistHead(ast: PromQL.Expr, allowNameless: Boolean): Boolean =
      hist.nonEmpty && {
        val selNameMs = PromQL.selectorsOf(ast)
          .map(_.filter(m => m.name == "__name__" || m.name == "name"))
          .filter(_.nonEmpty)
        // `allowNameless = false` (the RULES tier): a fully nameless
        // expression stays on the float tier — a generic `{job="x"} > 5`
        // rule must not flip tiers just because a native metric was ever
        // pushed (query endpoints keep the nameless head routing: under
        // a histogram_* function a nameless selector has no classic
        // float-tier reading)
        (allowNameless || selNameMs.nonEmpty) &&
          selNameMs.forall(ms =>
            stored(ms).nonEmpty)
      }

    private def stored(ms: Seq[graft.model.Matcher]): Set[String] =
      histNames.filter(m => ms.forall(matchesMetric(_, m)))

    /** Whether `e`'s name-bearing selectors STRADDLE the two stores: at
      * least one resolves to a pushed-native metric AND at least one to
      * the float/classic tier. The whole-expression `forall` routing
      * would evaluate such an expression entirely on the float tier,
      * where the native side has no series — a silently PARTIAL answer
      * (`native or float` returned only the float rows, `float unless
      * native` suppressed nothing). The router instead SPLITS the
      * well-defined multi-operand shapes per side — set ops (pure label
      * membership, values never consulted) and × ÷ by a float vector
      * (the [[PromQLHist.scaleByVector]] join) — and rejects every
      * other straddling shape with the loud 422 mixed-tier error,
      * matching Prometheus's own refusal to combine a histogram and a
      * float sample arithmetically. */
    def straddlesTiers(e: PromQL.Expr): Boolean =
      hist.nonEmpty && {
        val tiers = PromQL.selectorsOf(e)
          .map(_.filter(m => m.name == "__name__" || m.name == "name"))
          .filter(_.nonEmpty)
          .map(ms => stored(ms).nonEmpty)
        tiers.contains(true) && tiers.contains(false)
      }

    /** Float-store names a matcher set selects BEYOND the native head:
      * wide-store names matching `ms` that the hist head does NOT store
      * (a name present in BOTH stores keeps the native preference —
      * Prometheus resolves native-over-classic per series). The float
      * names are [[Head.names]]; a query with no native-matching
      * selector never computes them (the callers test the native side
      * first). */
    private def floatOnlyStored(ms: Seq[graft.model.Matcher]): Set[String] =
      (float.names -- histNames)
        .filter(m => ms.forall(matchesMetric(_, m)))

    /** ONE selector SPANNING both stores (`{name=~"native|classic"}`):
      * its name matchers resolve to ≥ 1 pushed-native metric AND ≥ 1
      * float-only metric — the straddle class one level DOWN from
      * multi-operand mixing: whole-expression routing would read only
      * the hist head and the float metrics silently vanish. A BARE
      * spanning selector unions both stores' rows (the API carries
      * `value` and `histogram` entries side by side); shaped
      * expressions over one either split-aggregate per Prometheus's
      * mixed-type semantics or 422 loudly. */
    private def selectorSpansStores(ms: Seq[graft.model.Matcher]): Boolean = {
      val nameMs = ms.filter(m => m.name == "__name__" || m.name == "name")
      nameMs.nonEmpty && stored(nameMs).nonEmpty &&
        floatOnlyStored(nameMs).nonEmpty
    }

    def anySelectorSpans(e: PromQL.Expr): Boolean =
      hist.nonEmpty && PromQL.selectorsOf(e).exists(selectorSpansStores)

    /** Whether some name-bearing selector of `e` resolves to a
      * pushed-native metric — its answer is typed by that metric, not by
      * the samples one grid happens to hold. */
    def namesNative(e: PromQL.Expr): Boolean =
      PromQL.selectorsOf(e).exists { ms =>
        val nameMs = ms.filter(m => m.name == "__name__" || m.name == "name")
        nameMs.nonEmpty && stored(nameMs).nonEmpty
      }

    /** Whether a BARE selector must read BOTH stores — the union gate
      * one level WIDER than [[selectorSpansStores]], covering every way
      * float-store rows can hide behind hist-head routing:
      *   - name matchers spanning a native and a float-only metric;
      *   - a MIGRATED metric (stored in both — its pre-migration float
      *     history must stitch under the native rows);
      *   - a NAMELESS selector (`{job="x"}`) when a hist head exists —
      *     both stores hold matching series (previously it silently
      *     read only the float store).
      * The float share is per-series time-shadowed ([[Span.floatShare]]),
      * so the union can never double-count. */
    def selectorUnionsStores(ms: Seq[graft.model.Matcher]): Boolean =
      hist.nonEmpty && {
        val nameMs = ms.filter(m => m.name == "__name__" || m.name == "name")
        if (nameMs.isEmpty) namelessMayMatchHist(ms)
        else stored(nameMs).nonEmpty &&
          (floatOnlyStored(nameMs).nonEmpty ||
            stored(nameMs).exists(float.names))
      }

    /** The float store's UNSHADOWED share at the raw-sample level — the
      * input every plain float evaluation reads: per-SERIES, samples
      * inside a native ownership window drop, everything else (float-only
      * names, unmigrated series of a partially-migrated name, and
      * pre-migration history) serves. The mixed-type AGGREGATION paths
      * no longer stop at this raw-axis carve: their float share is the
      * PER-STEP carved selector frame ([[Span.floatShare]], re-entered
      * through [[PromQL.aggFrame]]), so
      * the former staleness-boundary residual (a step within lookback
      * after a series' migration seeing its last pre-migration sample —
      * a spurious mixed group for sum/avg, a one-lookback double count
      * for count) is carved exactly. A per-NAME carve here would
      * silently drop LIVE unmigrated series — the partial-fleet
      * data-loss class. */
    def floatShareView: DataFrame = shadowCarved(float.df)

    /** EVERY float-tier query evaluation reads through this carve: the
      * given float view minus the samples native series OWN
      * ([[Shadowing]], raw-sample axis) — a migrated series' dual-write
      * float pushes can never leak into any float evaluation path (the
      * bare-selector union paths additionally output-filter per
      * evaluation step, the exact per-step form; the raw carve leaves
      * only the bounded staleness-boundary residual where a
      * pre-migration sample is still inside lookback of a post-migration
      * step). No-op while no hist head exists. */
    def shadowCarved(view: DataFrame): DataFrame =
      dropShadowedFrame(view, col(TsdbSchema.TimeCol))

    /** [[Shadowing.dropShadowed]] over a WIDE float frame, keyed on its
      * label columns, against the hist head's per-series since table.
      * `evalTime` = the frame's time axis (the grid column for range
      * frames and raw matrices, the evaluation instant for instant
      * vectors). */
    def dropShadowedFrame(fv: DataFrame, evalTime: Column): DataFrame =
      Shadowing.dropShadowed(fv, Shadowing.skeyOfWide(fv), evalTime,
        seriesSince)

    /** Metric names `e` touches that live in BOTH stores — each one's
      * float share (pre-migration history, or unmigrated series of a
      * partially-migrated fleet) cannot ride a shaped hist-tier
      * evaluation. */
    private def dualStoreNames(e: PromQL.Expr): Seq[String] =
      if (hist.isEmpty) Nil
      else PromQL.selectorsOf(e)
        .map(_.filter(m => m.name == "__name__" || m.name == "name"))
        .filter(_.nonEmpty)
        .flatMap(ms => stored(ms).filter(float.names))
        .distinct.sorted

    /** Answers of [[unshadowedAmong]], per name set, for this snapshot. */
    private val unshadowedMemo = new java.util.concurrent.ConcurrentHashMap[
      Set[String], Memo[Set[String]]]()

    /** Which dual-store `names` still have ≥ 1 UNSHADOWED float row (a
      * sample outside every native ownership window — pre-migration
      * history, or a live unmigrated series): the only names whose
      * float share a shaped hist-tier evaluation actually misses. A
      * fully-migrated metric whose float rows are ALL dual-write
      * shadows must not warn forever (a permanent false-positive
      * annotation). One carved name-distinct
      * job per name set, memoized on the snapshot; the scan is
      * restricted to THIS query's names (`isin` pushes to the
      * metric-partitioned layout, so the job prunes to their files) —
      * a whole-store distinct would make every hist-routed query and
      * every /api/v1/rules render pay a store-wide job just to gate a
      * warning string. */
    private def unshadowedAmong(names: Seq[String]): Set[String] =
      unshadowedMemo.computeIfAbsent(names.toSet, ns => new Memo({
        val nameCol = TsdbSchema.labelColName("name")
        shadowCarved(float.df)
          .where(col(s"`$nameCol`").isin(ns.toSeq: _*))
          .select(col(s"`$nameCol`")).distinct()
          .collect().map(_.getString(0)).toSet
      })).value

    /** The loud half of the migrated-metric contract for SHAPED
      * expressions: bare selectors, raw matrices, federate and remote
      * read STITCH a migrated series (float history before its first
      * native sample, native after); a shaped expression evaluates on
      * the native store alone, and this warning says so instead of
      * leaving the missing float share silent. Gated on an unshadowed
      * float row actually existing ([[unshadowedAmong]]) — a
      * cleanly-migrated metric whose only float rows are dual-write
      * shadows has no missing share to warn about. */
    def migrationWarnings(e: PromQL.Expr): Seq[String] = {
      val dual0 = dualStoreNames(e)
      val dual = if (dual0.isEmpty) dual0
                 else dual0.filter(unshadowedAmong(dual0))
      if (dual.isEmpty) Nil
      else Seq("metric(s) " + dual.mkString(", ") + " also have " +
        "float-store samples (pre-migration history or unmigrated " +
        "series), which shaped expressions over the native store do " +
        "not include — bare selectors and remote read serve the " +
        "stitched series")
    }

    /** Cheap driver-side gate for NAMELESS selectors against the hist
      * head: an Eq matcher demanding a NON-EMPTY value for a label name
      * no native series carries can never match — schema-level (the
      * hist head's label-column set), no Spark job. Skipping the hist
      * side spares nameless float-only workloads the hist evaluation +
      * union + shadow join they would otherwise pay. Conservative by
      * design: regex/inequality matchers and empty-value Eq (`""` ≡
      * absent — matches label-less series) pass through, so a skip is
      * always provably correct. */
    private def namelessMayMatchHist(ms: Seq[graft.model.Matcher]): Boolean =
      hist.exists { h =>
        val histLabels = TsdbSchema.labelColumns(h.dense)
          .map(_.stripPrefix(TsdbSchema.LabelPrefix)).toSet
        ms.forall {
          case graft.model.Matcher.Eq(k, v) if v.nonEmpty =>
            histLabels.contains(k) || k == "__name__" || k == "name"
          case _ => true
        }
      }

    /** The BOTH-STORES test for a bare selector inside a shaped
      * expression: spanning name matchers, or a nameless selector some
      * native series may match ([[namelessMayMatchHist]]) — the leaf
      * test of [[spanningShaped]]. */
    def shapedBothStores(arg: PromQL.Expr): Option[PromQL.Selector] =
      arg match {
        case s @ PromQL.Selector(ms, None, _, _)
            if bothStoresSelectorMs(ms) => Some(s)
        case _ => None
      }

    /** RANGE-selector twin of [[shapedBothStores]] — the argument shape
      * of the over-time window family (`count_over_time({job="x"}[1h])`). */
    def shapedBothStoresRange(arg: PromQL.Expr)
        : Option[PromQL.Selector] = arg match {
      case s @ PromQL.Selector(ms, Some(_), _, _)
          if bothStoresSelectorMs(ms) => Some(s)
      case _ => None
    }

    def bothStoresSelectorMs(ms: Seq[graft.model.Matcher]): Boolean =
      selectorSpansStores(ms) || {
        val nameMs =
          ms.filter(m => m.name == "__name__" || m.name == "name")
        nameMs.isEmpty && namelessMayMatchHist(ms)
      }

    /** SUBQUERY twin of [[shapedBothStoresRange]]: a subquery whose
      * inner is a BARE both-stores selector (`{user="x"}[30s:5s]`) —
      * the window-family composition applies on the subquery GRID. */
    def subqueryBothStores(arg: PromQL.Expr)
        : Option[PromQL.Subquery] = arg match {
      case sq @ PromQL.Subquery(PromQL.Selector(ms, None, _, _),
          _, _, _, _) if bothStoresSelectorMs(ms) => Some(sq)
      case _ => None
    }

    /** A side whose FLOAT-TIER evaluation is the complete truth: every
      * selector is name-bearing and resolves to NO pushed-native metric
      * (a nameless selector could match native series — it must go
      * through the lattice, never a bare float evaluation). */
    def pureFloatSide(x: PromQL.Expr): Boolean = {
      val sels = PromQL.selectorsOf(x)
      sels.nonEmpty && sels.forall { ms =>
        val nameMs =
          ms.filter(m => m.name == "__name__" || m.name == "name")
        nameMs.nonEmpty && stored(nameMs).isEmpty
      }
    }

    /** The SERIES-METADATA view: the float head UNIONED with the pushed
      * native-histogram head as label-only rows — Prometheus's series/
      * labels/label-values APIs list native-histogram series like any
      * other; reading only the float store would leave pushed-native
      * metrics invisible to `/api/v1/series`, `/api/v1/labels` and
      * `/api/v1/label/.../values`. The hist rows' `value` is a dummy 1.0
      * (these APIs never read values — selection is labels + time). */
    def metaView: DataFrame = hist match {
      case None => float.df
      case Some(h) =>
        float.df.unionByName(
          h.dense.drop(PromQLHist.HistCol)
            .withColumn(TsdbSchema.ValueCol, lit(1.0)),
          allowMissingColumns = true)
    }
  }

  /** The published snapshot. A handler reads it once, when it starts. */
  @volatile private var current: Heads =
    new Heads(new Head(initial, 0), None, exemplars.map(new Head(_, 0)))

  /** Serializes the pushes. A push builds every next head from the
    * current snapshot — the unions, and on a head's consolidating
    * append the eager `localCheckpoint` — holding only this lock, then
    * publishes the new snapshot in one write. Queries never take it, so
    * they never wait out a consolidation. */
  private val appendLock = new Object

  private def publish(next: Heads => Heads): Unit =
    appendLock.synchronized { current = next(current) }

  /** The served head (test hook: lineage-bound plan assertions). */
  private[tsdb] def headTable: DataFrame = current.float.df

  /** Queryable pushed-histogram head (dense frames), if any arrived. */
  def histTable: Option[DataFrame] = current.hist.map(_.dense)

  private def histNLes: Int = histMaxExp - histMinExp + 3 // zero+grid+Inf

  /** Long-form decoded rows as a one-append float [[Head]], None when
    * there are none. STALENESS markers (the StaleNaN bit pattern, which
    * Prometheus forwards over remote write and the OTLP decoders emit
    * for no-recorded-value points) become NULL-`value` rows — the
    * engine's staleness representation ([[TsdbSchema.StaleNaNBits]]):
    * detected HERE, the last place the raw bits exist before Spark
    * canonicalizes NaN payloads. */
  private def floatBatch(
      rows: Seq[(Long, Double, Map[String, String])]): Option[Head] =
    if (rows.isEmpty) None
    else {
      import spark.implicits._
      val longForm = rows.map { case (t, v, ls) =>
        (t, if (TsdbSchema.isStaleMarker(v)) None else Some(v), ls)
      }.toDF("time", "value", "labels")
      Some(new Head(TsdbIngest.toWide(longForm), 1))
    }

  /** A wire histogram's OWN schema field defines its bucket boundaries;
    * densifying a schema-k histogram onto the server's schema-j grid
    * reinterprets the indices on the wrong boundaries — silently wrong
    * quantiles/fractions. Prometheus down-converts only across its own
    * supported resolutions (by merging bucket pairs); this receiver
    * rejects the mismatch as bad_data (400) so a schema-3 Prometheus or
    * scale-20 OTel SDK fails LOUDLY. (Stale markers are exempt: they
    * carry no bucket data.) */
  private def requireGridSchema(hists: Seq[RemoteWrite.SparseHist]): Unit =
    hists.find(h => !TsdbSchema.isStaleMarker(h.sum) &&
        h.schema != histSchemaId).foreach { h =>
      throw new IllegalArgumentException(
        s"native histogram schema ${h.schema} (metric " +
        s"${h.labels.getOrElse("__name__", "?")}) does not match the " +
        s"receiver's grid schema $histSchemaId; re-send at the " +
        "receiver's resolution or start the server with histSchemaId" +
        s" = ${h.schema}")
    }

  /** A push's histograms as a one-append [[HistHead]], None when there
    * are none. */
  private def histBatch(sparse: Seq[RemoteWrite.SparseHist])
      : Option[HistHead] =
    if (sparse.isEmpty) None
    else {
      // STALENESS markers (sum carries the StaleNaN bit pattern — what
      // Prometheus forwards over remote write and what the OTLP
      // decoders emit for FLAG_NO_RECORDED_VALUE points) land in the
      // dense head as NULL-hist rows: the hist tier's instant lookback
      // ends the series at them and its range selections skip them
      // (the float tier's NULL-value contract). Detected HERE — the
      // last place the raw bits exist before Spark canonicalizes NaN
      // payloads inside UnsafeRow.
      val (stale, live) =
        sparse.partition(h => TsdbSchema.isStaleMarker(h.sum))
      import spark.implicits._
      val denseLive = RemoteWrite.denseFromSparse(
        spark.createDataset(live), histSchemaId, histMinExp, histMaxExp)
      val dense =
        if (stale.isEmpty) denseLive
        else denseLive.unionByName(spark.createDataset(stale).toDF()
          .select(col("time"), col("labels"),
            lit(null).cast(denseLive.schema("hist").dataType).as("hist")))
      val names = sparse.flatMap(_.labels.keys).distinct.sorted
      val labelCols = names.map(n => col("labels").getItem(n)
        .as(TsdbSchema.labelColName(if (n == "__name__") "name" else n)))
      val wideH = dense.select(col("time") +: labelCols :+ col("hist"): _*)
      // the wire-serving twin: full sparse samples. Stale markers stay
      // OUT of the sparse head: the NaN payload cannot survive a
      // shuffle, and the chunked/sampled responders serve observed
      // data, not staleness signals.
      val sparseRows = spark.createDataset(live.map(h =>
        (h.labels, graft.sources.tsdbblock.WalReader.WalHistogram(
          0L, h.time, h.resetHint, h.schema, h.zeroThreshold, h.zeroCount,
          h.count, h.sum, h.positive, h.negative, h.customValues,
          isFloat = false))))
      Some(new HistHead(wideH, sparseRows,
        sparse.flatMap(_.labels.get("__name__")).toSet, 1))
    }

  /** Value-ranked/statistic shapes over a HISTOGRAM-valued argument —
    * what Prometheus 3 answers by SKIPPING the histogram samples with
    * an info annotation rather than erroring (topk/bottomk, min/max,
    * stddev/stdvar, quantile, sort/sort_desc): over a pure-native
    * vector the result is EMPTY + info (previously a 422). */
  private def rankedOverHist(e: PromQL.Expr): Option[String] = e match {
    case PromQL.RankK(op @ ("topk" | "bottomk"), _, arg, _, _)
        if PromQLHist.histEvaluable(arg) => Some(op)
    case PromQL.AggBy(op @ ("min" | "max" | "stddev" | "stdvar"),
        _, arg, None)
        if PromQLHist.histEvaluable(arg) => Some(op)
    case PromQL.AggWithout(op @ ("min" | "max" | "stddev" | "stdvar"),
        _, arg, None)
        if PromQLHist.histEvaluable(arg) => Some(op)
    case PromQL.AggBy("quantile", _, arg, Some(_))
        if PromQLHist.histEvaluable(arg) => Some("quantile")
    case PromQL.AggWithout("quantile", _, arg, Some(_))
        if PromQLHist.histEvaluable(arg) => Some("quantile")
    case PromQL.Fn(op @ ("sort" | "sort_desc"), arg, _)
        if PromQLHist.histEvaluable(arg) => Some(op)
    // count_values consumes float values only — over a pure-native
    // vector every sample is skipped: empty + info, never a 422
    case PromQL.CountValues(_, arg, _, _)
        if PromQLHist.histEvaluable(arg) => Some("count_values")
    case _ => None
  }

  private def skippedInfo(op: String): Seq[String] =
    Seq(s"histogram samples ignored in $op aggregation")

  /** Over-time/range functions Prometheus evaluates on FLOAT samples
    * only, SKIPPING histogram samples with an info annotation — the
    * float share answers, the hist share's presence only drives the
    * annotation. */
  private val FloatOnlyOverTime = Set("min_over_time", "max_over_time",
    "stddev_over_time", "stdvar_over_time", "mad_over_time",
    "quantile_over_time", "ts_of_max_over_time", "ts_of_min_over_time",
    "deriv", "predict_linear", "holt_winters",
    "double_exponential_smoothing", "xrate", "xincrease", "xdelta")

  /** Range functions Prometheus WOULD evaluate over native histograms
    * but this engine's hist tier does not support yet: the float share
    * answers and the excluded native share surfaces as a WARNING —
    * loud-partial, never silent-partial (pinned). */
  private val FloatWarnOverTime = Set("changes", "resets", "irate",
    "idelta")

  private def excludedNativeWarning(op: String): Seq[String] =
    Seq(s"native-histogram samples excluded from $op: the native " +
      "store's share of the selector is not supported for this " +
      "function yet")

  private def mixedRangeWarning: Seq[String] =
    Seq("encountered a mix of float and histogram samples in range " +
      "evaluation; the mixed series were skipped")

  /** Prometheus 3's sum/avg mixed-type rule per aggregation group
    * ([[PromQLHist.exclusiveAggShares]]), warning attached when any
    * group was removed. */
  private def exclusiveShares(h: DataFrame, f: DataFrame)
      : (DataFrame, Seq[String]) = {
    val (out, mixed) = PromQLHist.exclusiveAggShares(h, f)
    (out,
      if (mixed)
        Seq("encountered a mix of float and histogram samples in " +
          "aggregation; the mixed group(s) were removed")
      else Nil)
  }

  /** Float-consuming subquery folds over a mixed inner: histogram
    * grid points skip with the info annotation (Prometheus's rule). */
  private val SubqueryFloatInfoOps = Set("min_over_time",
    "max_over_time", "stddev_over_time", "stdvar_over_time",
    "mad_over_time", "quantile_over_time")

  /** Subquery folds Prometheus evaluates over histogram grid points
    * that this engine's hist tier cannot fold over subqueries yet —
    * the float share answers with the excluded-native WARNING
    * (pinned loud-partial). */
  private val SubqueryFloatWarnOps = Set("rate", "increase", "delta",
    "irate", "idelta", "changes", "resets", "deriv", "predict_linear",
    "holt_winters", "double_exponential_smoothing", "last_over_time",
    "first_over_time", "ts_of_last_over_time", "ts_of_first_over_time")

  /** [[PromQL.InstantFns]] value maps the mixed lattice recurses
    * through — everything except the shapes handled elsewhere
    * (`absent`, the sort pair) and the scalar conversions. */
  private val ValueMapOverMixed: Set[String] =
    PromQL.InstantFns -- Set("absent", "sort", "sort_desc", "vector",
      "scalar")

  private val CmpOpSet = Set("==", "!=", ">", "<", ">=", "<=")

  /** Vector-scalar op over a possibly-MIXED frame (float `value` rows
    * beside native-histogram rows): float rows take the float tier's
    * scalarOp verbatim; histogram rows SCALE under `*` and `hist / s`
    * (Prometheus's histogram-scalar arithmetic) and are SKIPPED with
    * the info annotation under comparisons and the undefined
    * arithmetic shapes (`hist + s`, `s / hist`, …) — never a silent
    * null-valued row. */
  private def scalarWrapMixed(df0: DataFrame, op: String, s: Double,
      flipped: Boolean, bool: Boolean): (DataFrame, Seq[String]) = {
    // value-CHANGING ops drop the metric name on the MIXED path from
    // BOTH kinds: scaleHistFrame drops it from histogram rows and
    // scalarOp's dropName only knows the `__name__` spelling, so a
    // straddling series' two halves would otherwise render under two
    // different metric identities (one with `__name__`, one without —
    // the merged-series renderer could never reunite them). The
    // comparison FILTER keeps rows unchanged, name included
    // (Prometheus), and its histogram rows are skipped, so no split
    // is reachable there.
    def stripName(d: DataFrame): DataFrame =
      d.drop(TsdbSchema.labelColName("name")).drop("name")
        .drop(TsdbSchema.labelColName("__name__")).drop("__name__")
    if (!df0.columns.contains(PromQLHist.HistCol)) {
      val out = PromQL.scalarOp(df0, op, lit(s), flipped, bool)
      (if (CmpOpSet(op) && !bool) out else stripName(out), Nil)
    } else {
      val scales = op == "*" || (op == "/" && !flipped)
      // the skip annotation's probe and the output share ONE
      // materialization (the probe would otherwise re-run the whole
      // inner evaluation — series-sized result frames); a scaling op
      // needs no probe and stays lazy, so a caller that rejects its
      // histogram-typed answer runs no job
      val df = if (scales) df0 else df0.localCheckpoint(true)
      val histRows = df.where(col(PromQLHist.HistCol).isNotNull)
      val floatRows = PromQL.toValueShape(
          df.where(col(PromQLHist.HistCol).isNull))
        .drop(PromQLHist.HistCol)
      val f0 = PromQL.scalarOp(floatRows, op, lit(s), flipped, bool)
      val f = if (CmpOpSet(op) && !bool) f0 else stripName(f0)
      if (scales)
        (f.unionByName(
          PromQLHist.scaleHistFrame(histRows,
            if (op == "*") s else 1.0 / s),
          allowMissingColumns = true), Nil)
      else
        (f, if (histRows.isEmpty) Nil
            else Seq("histogram samples ignored in " +
              (if (CmpOpSet(op)) "comparison with a scalar"
               else s"'$op' with a scalar")))
    }
  }

  /** A spanning bare-selector union with the two shares' label
    * SPELLINGS unified (the hist tier emits wide columns here too, so
    * alignment is usually a no-op — kept for the invariant): the
    * input of the type-agnostic samplers (limitk/limit_ratio) and the
    * absent emptiness probe. */
  private def unionShares(hv: DataFrame, fv: DataFrame): DataFrame =
    TsdbSchema.alignLabelSpellings(hv, fv).unionByName(
      TsdbSchema.alignLabelSpellings(fv, hv), allowMissingColumns = true)

  /** The mixed-type evaluator: Prometheus 3's semantics for SHAPED
    * expressions over a selector reading BOTH stores (a spanning name
    * matcher, or a nameless selector some native series may match).
    * The FLOAT share of every shape re-enters the float tier's pre-
    * evaluated-frame kernels ([[PromQL.aggFrame]]/[[PromQL.rankFrame]]/
    * [[PromQL.instantFn]]) over the selector's PER-STEP carved share
    * ([[Span.floatShare]]): store ownership is decided at each
    * evaluation step's offset-resolved reference time, so a
    * pre-migration float sample still inside lookback of a
    * post-migration step drops EXACTLY — the raw-axis input carve
    * ([[Heads.floatShareView]]) left a one-lookback residual that
    * spuriously marked sum/avg groups mixed and double-counted `count`.
    * None = not a shape this lattice composes; [[route]] decides what
    * that means. `by` and `without` grouping forms are twins
    * throughout. */
  private def spanningShaped(e: PromQL.Expr, span: Span)
      : Option[Routed] = {
    import span.heads.{bothStoresSelectorMs, pureFloatSide,
      shapedBothStores, shapedBothStoresRange, subqueryBothStores}
    def rec(x: PromQL.Expr) = spanningShaped(x, span)
    // the two sides of a binary shape: a side composes through `side`
    // (the lattice) only when one of its selectors reads both stores;
    // a side that does not is admitted only when its float-tier
    // reading is complete ([[pureFloatSide]]) — with no lattice side
    // at all the expression is not a mixed shape. Decided from the
    // selectors first, so a pair that cannot qualify evaluates neither
    // side, and a failing left side skips the right one.
    def latticePair(l: PromQL.Expr, r: PromQL.Expr,
                    side: PromQL.Expr => Option[Routed]) = {
      def lattice(x: PromQL.Expr) =
        PromQL.selectorsOf(x).exists(bothStoresSelectorMs)
      def eval(x: PromQL.Expr) =
        if (lattice(x)) side(x)
        else Some(Routed(span.floatEval(x), Nil, Nil))
      if ((lattice(l) || lattice(r)) && (lattice(l) || pureFloatSide(l)) &&
          (lattice(r) || pureFloatSide(r)))
        for (a <- eval(l); b <- eval(r)) yield (a, b)
      else None
    }
    def histHasRows(arg: PromQL.Expr): Boolean = !span.hist(arg).isEmpty
    def floatAgg(sel: PromQL.Selector, op: String,
                 by: Option[Seq[String]], without: Option[Seq[String]],
                 param: Option[Double]): DataFrame =
      PromQL.aggFrame(span.floatShare(sel), op, by, without, param)
    // (aggregation op, grouping, selector) for the by/without twins —
    // Prometheus 3 applies the same mixed-type rule to both forms
    def aggShape(x: PromQL.Expr): Option[(String, Option[Seq[String]],
        Option[Seq[String]], Option[Double], PromQL.Selector)] = x match {
      case PromQL.AggBy(op, by, arg, param) =>
        shapedBothStores(arg).map(s => (op, Some(by), None, param, s))
      case PromQL.AggWithout(op, w, arg, param) =>
        shapedBothStores(arg).map(s => (op, None, Some(w), param, s))
      case _ => None
    }
    val aggShapeE = aggShape(e)
    e match {
      case _ if aggShapeE.nonEmpty =>
        val (op, by, without, param, sel) = aggShapeE.get
        (op, param) match {
          case ("sum" | "avg", None) =>
            val (out, mixedWarn) = exclusiveShares(span.hist(e),
              floatAgg(sel, op, by, without, None))
            Some(Routed(out, mixedWarn, Nil))
          case ("count", None) =>
            Some(Routed(PromQLHist.combineCountShares(span.hist(e),
              floatAgg(sel, "count", by, without, None)), Nil, Nil))
          case ("min" | "max" | "stddev" | "stdvar", None) =>
            Some(Routed(floatAgg(sel, op, by, without, None), Nil,
              if (histHasRows(sel)) skippedInfo(op) else Nil))
          case ("quantile", Some(q)) =>
            Some(Routed(floatAgg(sel, op, by, without, Some(q)), Nil,
              if (histHasRows(sel)) skippedInfo("quantile") else Nil))
          // `group` is type-agnostic like count: 1 per group of SERIES
          // across BOTH shares — the count combine with the value mapped
          case ("group", None) =>
            val histCount = e match {
              case PromQL.AggBy(_, by2, arg, None) =>
                PromQL.AggBy("count", by2, arg, None)
              case PromQL.AggWithout(_, w2, arg, None) =>
                PromQL.AggWithout("count", w2, arg, None)
              case _ => e // unreachable: aggShape matched
            }
            Some(Routed(PromQLHist.combineCountShares(
                span.hist(histCount),
                floatAgg(sel, "count", by, without, None))
              .withColumn(TsdbSchema.ValueCol, lit(1.0)), Nil, Nil))
          case _ => None
        }
      case PromQL.RankK(op @ ("topk" | "bottomk"), k, arg, by, w) =>
        shapedBothStores(arg).map { sel =>
          Routed(PromQL.rankFrame(span.floatShare(sel), op, k, by, w), Nil,
            if (histHasRows(sel)) skippedInfo(op) else Nil)
        }
      case PromQL.Fn(op @ ("sort" | "sort_desc"), arg, params) =>
        shapedBothStores(arg).map { sel =>
          Routed(PromQL.instantFn(op, span.floatShare(sel), params, 0L), Nil,
            if (histHasRows(sel)) skippedInfo(op) else Nil)
        }
      // the TYPE-AGNOSTIC samplers run over the stitched UNION
      // itself — Prometheus 3's limitk/limit_ratio keep k series
      // regardless of sample kind (histogram rows ride unchanged,
      // the mixed response renders both kinds side by side)
      case PromQL.RankK("limitk", k, arg, by, w) =>
        shapedBothStores(arg).map { sel =>
          Routed(PromQLHist.limitKFrame(
            unionShares(span.hist(sel), span.floatShare(sel)), k, by, w),
            Nil, Nil)
        }
      case PromQL.LimitRatio(r, arg) =>
        shapedBothStores(arg).map { sel =>
          Routed(PromQLHist.limitRatioFrame(
            unionShares(span.hist(sel), span.floatShare(sel)), r), Nil, Nil)
        }
      // absent over a both-stores selector: 1 exactly when NEITHER
      // store has a matching sample — the float tier alone answered
      // absent = 1 for nameless selectors whose native series exist
      // (silently wrong, the alerting primitive inverted)
      case PromQL.Fn("absent", arg, _) =>
        shapedBothStores(arg).map { sel => Routed(span.absent(sel), Nil, Nil) }
      // count_values consumes float values only — Prometheus 3 skips
      // the histogram share with the info annotation
      case PromQL.CountValues(lbl, arg, by, w) =>
        shapedBothStores(arg).map { sel =>
          Routed(PromQL.countValuesFrame(span.floatShare(sel), lbl, by, w), Nil,
            if (histHasRows(sel)) skippedInfo("count_values") else Nil)
        }
      // the sample-type-AGNOSTIC window family over a both-stores
      // RANGE selector. The float share reads the sample-axis carved
      // view WITHOUT the per-step reference-time filter: the window
      // itself is the time question, so a migrated series' window
      // counts its unshadowed pre-migration floats AND its native
      // snapshots — exactly the merged store's samples, never a dual
      // write twice (the dual write is carved at the sample axis).
      //   - count_over_time: counts ADD per (series, window) —
      //     Prometheus counts float and histogram samples alike;
      //   - present_over_time: presence clamps to one row (a series
      //     straddling its migration inside one window is present
      //     ONCE, not twice);
      //   - absent_over_time: absence means absence from BOTH stores
      //     (the float tier alone answered 1 while native samples
      //     filled the window — `absent`'s inverted-alerting bug, one
      //     axis over).
      // SUBQUERY inners over a both-stores bare selector — the
      // window-family composition on the subquery GRID: the float
      // share's inner evaluates per grid step through the per-step
      // carved union axis (the evalRangeFn hook behind
      // [[Span.subqueryFold]]), so a straddling series contributes each grid
      // point from exactly ONE store and the boundary step never
      // double-counts. These cases must precede the range-selector
      // arms below (those commit on the op name).
      case fn @ PromQL.Fn("count_over_time", arg, params)
          if subqueryBothStores(arg).nonEmpty =>
        Some(Routed(PromQLHist.combineSeriesShares(span.hist(fn),
          span.subqueryFold("count_over_time", subqueryBothStores(arg).get,
            params), how = "sum"), Nil, Nil))
      case PromQL.Fn("present_over_time", arg, params)
          if subqueryBothStores(arg).nonEmpty =>
        // the hist tier folds subquery COUNTS — presence is the count
        // clamped to 1 (its own range-selector rule)
        val hPresent = span.hist(PromQL.Fn("count_over_time", arg, Nil))
          .withColumn(TsdbSchema.ValueCol, lit(1.0))
        Some(Routed(PromQLHist.combineSeriesShares(hPresent,
          span.subqueryFold("present_over_time", subqueryBothStores(arg).get,
            params), how = "max"), Nil, Nil))
      case fn @ PromQL.Fn(op @ ("sum_over_time" | "avg_over_time"),
          arg, params) if subqueryBothStores(arg).nonEmpty =>
        val (out, mixed) = PromQLHist.exclusiveSeriesShares(
          span.hist(fn),
          span.subqueryFold(op, subqueryBothStores(arg).get, params))
        Some(Routed(out, if (mixed) mixedRangeWarning else Nil, Nil))
      case PromQL.Fn(op, arg, params)
          if subqueryBothStores(arg).nonEmpty &&
            (SubqueryFloatInfoOps(op) || SubqueryFloatWarnOps(op)) =>
        val histHas = !span.hist(
          PromQL.Fn("count_over_time", arg, Nil)).isEmpty
        val f = span.subqueryFold(op, subqueryBothStores(arg).get, params)
        if (SubqueryFloatWarnOps(op))
          Some(Routed(f, if (histHas) excludedNativeWarning(op) else Nil,
            Nil))
        else
          Some(Routed(f, Nil, if (histHas) skippedInfo(op) else Nil))
      case fn @ PromQL.Fn("count_over_time", arg, _) =>
        shapedBothStoresRange(arg).map { _ =>
          Routed(PromQLHist.combineSeriesShares(span.hist(fn),
            span.floatEval(fn), how = "sum"), Nil, Nil)
        }
      case fn @ PromQL.Fn("present_over_time", arg, _) =>
        shapedBothStoresRange(arg).map { _ =>
          Routed(PromQLHist.combineSeriesShares(span.hist(fn),
            span.floatEval(fn), how = "max"), Nil, Nil)
        }
      case fn @ PromQL.Fn("absent_over_time", arg, _) =>
        shapedBothStoresRange(arg).map { _ =>
          Routed(span.absentBoth(span.hist(fn), span.floatEval(fn)), Nil, Nil)
        }
      // type-EXCLUSIVE range shapes (sum/avg_over_time fold whole
      // histograms, rate/increase apply bucket-level reset detection,
      // delta the gauge-histogram form): each tier evaluates ITS OWN
      // share — a (series, window) with BOTH kinds is Prometheus 3's
      // mixed-samples skip + warning, exactly a key both shares
      // produced ([[PromQLHist.exclusiveSeriesShares]]); surviving
      // rows keep their own payload (histogram or float), so the
      // mixed response renders both kinds side by side
      case fn @ PromQL.Fn("sum_over_time" | "avg_over_time" | "rate" |
          "increase" | "delta", arg, _) =>
        shapedBothStoresRange(arg).map { _ =>
          val (out, mixed) = PromQLHist.exclusiveSeriesShares(
            span.hist(fn), span.floatEval(fn))
          Routed(out, if (mixed) mixedRangeWarning else Nil, Nil)
        }
      // type-PRESERVING raw-sample picks over a both-stores selector:
      // the winner per (series, window) is the share whose own sample
      // is later (earlier) — a post-migration native snapshot outranks
      // the float history, a post-rollback float sample outranks the
      // stale native band; both tiers' last/first folds KEEP the
      // metric name, so the composition keys on it (no cross-metric
      // collisions, no duplicate-labelset class here)
      case fn @ PromQL.Fn(op @ ("last_over_time" | "first_over_time"),
          arg, _) =>
        shapedBothStoresRange(arg).map { _ =>
          val ts = PromQL.Fn(
            if (op == "last_over_time") "ts_of_last_over_time"
            else "ts_of_first_over_time", arg, Nil)
          Routed(PromQLHist.pickByTimeShares(span.hist(fn), span.hist(ts),
            span.floatEval(fn), span.floatEval(ts),
            latest = op == "last_over_time"), Nil, Nil)
        }
      // the ts_of extractors are sample-type-AGNOSTIC (the timestamp
      // of the latest/earliest sample, regardless of kind): shares
      // combine by max/min; the name stays a key (both tiers keep it
      // on these folds — the engine's pinned ordinary-label model)
      case fn @ PromQL.Fn(op @ ("ts_of_last_over_time" |
          "ts_of_first_over_time"), arg, _) =>
        shapedBothStoresRange(arg).map { _ =>
          Routed(PromQLHist.combineSeriesShares(span.hist(fn),
            span.floatEval(fn),
            how = if (op == "ts_of_last_over_time") "max" else "min",
            keepName = true), Nil, Nil)
        }
      // float-only range shapes over a both-stores selector: the
      // float share answers; histogram samples in the window surface
      // as the info annotation (Prometheus skips them) or the
      // excluded-native WARNING (shapes Prometheus evaluates over
      // histograms but the hist tier does not support yet — pinned
      // loud-partial, never silent)
      case fn @ PromQL.Fn(op, arg, _)
          if FloatOnlyOverTime(op) || FloatWarnOverTime(op) =>
        shapedBothStoresRange(arg).map { sel =>
          val histHas = !span.hist(
            PromQL.Fn("count_over_time", sel, Nil)).isEmpty
          if (FloatWarnOverTime(op))
            Routed(span.floatEval(fn),
              if (histHas) excludedNativeWarning(op) else Nil, Nil)
          else
            Routed(span.floatEval(fn), Nil,
              if (histHas) skippedInfo(op) else Nil)
        }
      // VECTOR-SCALAR wrappers recurse into the lattice —
      // `count_over_time({user="x"}[5m]) > 3`, `sum({job="x"}) * 2`,
      // nested wrappers included; the inner shape's warnings/infos
      // ride out with the wrapper's own skip annotation
      case PromQL.BinOp(op, _, l, PromQL.ScalarLit(s), bool, _, _, _) =>
        rec(l).map { case Routed(df, w, i) =>
          val (out, extraI) = scalarWrapMixed(df, op, s,
            flipped = false, bool = bool)
          Routed(out, w, i ++ extraI)
        }
      case PromQL.BinOp(op, _, PromQL.ScalarLit(s), r, bool, _, _, _) =>
        rec(r).map { case Routed(df, w, i) =>
          val (out, extraI) = scalarWrapMixed(df, op, s,
            flipped = true, bool = bool)
          Routed(out, w, i ++ extraI)
        }
      // VALUE MAPS recurse into the lattice: the float rows map
      // through the float tier's instantFn, histogram rows SKIP with
      // the info annotation (Prometheus applies value maps to float
      // samples only); `timestamp` is the pinned exception — it would
      // compute on histograms, but the hist selector frame carries no
      // sample time, so the native share is EXCLUDED with a warning
      case PromQL.Fn(op, arg, params) if ValueMapOverMixed(op) =>
        rec(arg).map { case Routed(df0, w, i) =>
          val hasHist = df0.columns.contains(PromQLHist.HistCol)
          // one materialization feeds the skip probe AND the output
          // (series-sized result frames — the probe would otherwise
          // re-run the whole inner evaluation)
          val df = if (hasHist) df0.localCheckpoint(true) else df0
          val floatRows =
            if (hasHist)
              PromQL.toValueShape(
                df.where(col(PromQLHist.HistCol).isNull))
                .drop(PromQLHist.HistCol)
            else df
          val skipped = hasHist &&
            !df.where(col(PromQLHist.HistCol).isNotNull).isEmpty
          val out = PromQL.instantFn(op, floatRows, params, 0L)
          if (op == "timestamp")
            Routed(out, w ++ (if (skipped) excludedNativeWarning(op) else Nil),
              i)
          else
            Routed(out, w, i ++ (if (skipped)
              Seq(s"histogram samples ignored in $op") else Nil))
        }
      // LABEL transforms / sort_by_label: payload-agnostic row
      // transforms over the stitched union — histogram rows ride
      // unchanged beside float rows
      case PromQL.StrFn(name, arg, strs) =>
        rec(arg).map { case Routed(df, w, i) =>
          Routed(PromQL.strFn(name, df, strs), w, i)
        }
      // VECTOR-VECTOR binops between FLOAT-VALUED sides — the SLO
      // shape (`count_over_time(a[5m]) / on(k) count_over_time(b[5m])`):
      // at least one side composes through the lattice to a float
      // frame, the other too or is a complete float reading
      // ([[pureFloatSide]]); the float tier's keyed one-to-one kernel
      // joins them and the sides' annotations ride out. Group
      // modifiers stay out (the split lattice's rule).
      case PromQL.BinOp(op, onK, l, r, bool, "", ign, Seq())
          if !l.isInstanceOf[PromQL.ScalarLit] &&
            !r.isInstanceOf[PromQL.ScalarLit] =>
        def floatSide(x: PromQL.Expr) = rec(x)
          .filterNot(_.df.columns.contains(PromQLHist.HistCol))
        for {
          (Routed(ld, lw, li), Routed(rd, rw, ri)) <-
            latticePair(l, r, floatSide)
        } yield {
          val extra = Seq("bucket", "t").filter(c =>
            ld.columns.contains(c) && rd.columns.contains(c))
          Routed(PromQL.binOpFrames(op, onK, ign, ld, rd, bool, extra),
            lw ++ rw, li ++ ri)
        }
      // SET OPS: the membership joins are payload-agnostic
      // ([[PromQLHist.setOpFrames]]), so union frames, float frames
      // and composed mixed results all compose directly
      // (`{user="x"} or {user="y"}`, `{user="x"} unless float_maint`)
      case PromQL.SetOp(op, on, l, r, ign) =>
        for {
          (Routed(ld, lw, li), Routed(rd, rw, ri)) <- latticePair(l, r, rec)
        } yield Routed(PromQLHist.setOpFrames(op, ld, rd, on, ign),
          lw ++ rw, li ++ ri)
      // a BARE both-stores selector under a wrapper: the stitched
      // union frame itself (the router's bare case, reachable here
      // only through the recursion above)
      case s: PromQL.Selector if shapedBothStores(s).nonEmpty =>
        Some(Routed(unionShares(span.hist(s), span.floatShare(s)), Nil, Nil))
      case _ => None
    }
  }

  /** Where one expression evaluates: one request's snapshot of the
    * `heads`, and the instant `start` (`step` 0, `end` = `start`) or the
    * grid `start`..`end` by `step`, over a shadow-carved float view and
    * a lookback. The query endpoints pass the snapshot's float head
    * ([[Heads.floatShareView]]) and the server lookback; the rules tier
    * passes its group's accumulated view (the float head + earlier
    * recorded-rule samples). Every store read of [[route]] and its
    * evaluators goes through here, so one evaluator serves the instant
    * endpoint, the range endpoint and the rules tier, and every gate
    * reads the one snapshot. */
  private final class Span(val heads: Heads, val start: Long,
                           val end: Long, val step: Long,
                           val floatView: DataFrame, val lb: Long) {
    def instant: Boolean = step == 0L

    /** `e` on the native-histogram head. Instant: un-anchored range
      * selectors pin `@ start` ([[PromQLHist.evalStrict]]), so
      * rate/…_over_time select a real window. */
    def hist(e: PromQL.Expr): DataFrame =
      if (instant)
        PromQLHist.evalStrict(e, heads.hist.get.dense, start, lb, histNLes)
      else
        PromQLHist.evalRange(e, heads.hist.get.dense, start, end, step, lb,
          histNLes)

    /** `e` on the float view — the float tier's own answer. */
    def float(e: PromQL.Expr): DataFrame =
      if (instant)
        PromQL.evalStrict(e, floatView, start, lb, start = start,
          end = start)
      else PromQL.evalRange(e, floatView, start, end, step, lb)

    def floatEval(e: PromQL.Expr): DataFrame = PromQL.toValueShape(float(e))

    /** The offset/@-resolved sample reference time of a selector —
      * [[PromQL.resolveAt]] (the evaluators' own `@` rule) shifted by
      * the selector's offset. With an `@` anchor every step samples ONE
      * pinned window, so the reference is the resolved constant;
      * without, an instant samples at `start − offset` and each grid
      * step `t` at `t − offset`. */
    def sampleRef(s: PromQL.Selector): Column =
      if (s.atMod.nonEmpty)
        lit(PromQL.resolveAt(s.atMod, end, start, end) - s.offsetMs)
      else if (instant) lit(start - s.offsetMs)
      else col("t") - s.offsetMs

    /** The float store's share of a both-stores selector: the selector
      * evaluated on the float view MINUS the rows native series SHADOW
      * — per SERIES and per TIME ([[Shadowing.dropShadowed]]): a
      * migrated series keeps its float history at evaluation steps
      * BEFORE its first native sample (the native store has nothing
      * there) and yields to the native store from that step on;
      * never-migrated series (float-only names, or unmigrated label
      * sets of a migrated name) serve in full. Exactly remote read's
      * shadowing rule, so the two surfaces return the same sample set.
      *
      * The shadow axis is the selector's reference time
      * ([[sampleRef]]), not the bare evaluation step: the evaluators
      * sample the window (refT − lookback, refT], so store ownership is
      * decided at refT. Shadowing on the step itself silently emptied
      * `migrated_m offset 1w` queried from inside the ownership window
      * and double-counted dual writes when an @ anchor resolved into
      * the native band from a step outside it.
      *
      * BOTH carve axes apply: the INPUT is the sample-axis carved view
      * (an in-band dual-write float is a shadow PERMANENTLY, exactly as
      * remote read and the raw matrices treat it), and the OUTPUT
      * filters per reference time (a pre-migration sample still inside
      * lookback of an owned step must yield to the native store). */
    def floatShare(s: PromQL.Selector): DataFrame =
      heads.dropShadowedFrame(floatEval(s), sampleRef(s))

    /** `absent` over a both-stores selector: a `{<Eq-matcher labels>} 1`
      * row wherever BOTH stores match nothing — an instant probes the
      * union's emptiness in-plan (the float tier's own absent shape), a
      * grid anti-joins the union's present steps. */
    def absent(s: PromQL.Selector): DataFrame = {
      val u = unionShares(hist(s), floatShare(s))
      if (instant)
        u.agg(count(lit(1)).as("_n")).where(col("_n") === 0)
          .select(lit(start).as(TsdbSchema.TimeCol) +:
            PromQL.absentLabelCols(s) :+
            lit(1.0d).as(TsdbSchema.ValueCol): _*)
      else
        spark.range((end - start) / step + 1)
          .select((lit(start) + col("id") * step).as("t"))
          .join(u.select(col("t")).distinct(), Seq("t"), "left_anti")
          .select(col("t") +: PromQL.absentLabelCols(s) :+
            lit(1.0d).as(TsdbSchema.ValueCol): _*)
    }

    /** `absent_over_time` from each tier's own absent frame: absent
      * overall where BOTH tiers report absence — an instant's frames
      * are emptiness probes (≤ 1 row), a grid keeps the steps both
      * tiers list (grid-sized semi join). */
    def absentBoth(hA: DataFrame, fA: DataFrame): DataFrame =
      if (instant) { if (hA.isEmpty) fA.limit(0) else fA }
      else fA.join(hA.select(col("t")).distinct(), Seq("t"), "left_semi")

    /** A float-share subquery fold: the inner grid evaluates over the
      * carved view AND the per-step ownership axis (the inner
      * selector's offset/@ resolve through [[sampleRef]]). On a grid
      * an @-anchored subquery pins to ONE fold exploded across the grid
      * (the float tier's own rule); un-anchored folds fan inner points
      * to covering outer steps. */
    def subqueryFold(op: String, sq: PromQL.Subquery,
                     params: Seq[Double]): DataFrame = {
      val hook: (PromQL.Expr, DataFrame, Long, Long, Long, Long) =>
          DataFrame = (x, w, s0, e0, st0, lb0) =>
        heads.dropShadowedFrame(PromQL.toValueShape(
          PromQL.evalRange(x, w, s0, e0, st0, lb0)),
          x match {
            case s: PromQL.Selector =>
              new Span(heads, s0, e0, st0, w, lb0).sampleRef(s)
            case _ => col("t")
          })
      if (instant || sq.atMod.nonEmpty) {
        val fold = PromQL.subqueryFold(op, sq.arg, sq.rangeMs, sq.stepMs,
          sqEnd = PromQL.resolveAt(sq.atMod, end, start, end) - sq.offsetMs,
          floatView, lb, params, hook)
        if (instant) fold
        else fold.withColumn("t",
          explode(sequence(lit(start), lit(end), lit(step))))
      } else
        PromQL.subqueryFoldRange(op, sq.arg, sq.rangeMs, sq.stepMs,
          sq.offsetMs, floatView, start, end, step, lb, params, hook)
    }
  }

  /** THE routing decision, made once for the query endpoints and the
    * rules tier alike: which store answers `ast` — the float store, the
    * native-histogram head, or both under Prometheus 3's mixed-type
    * rules — evaluated over `span`. The evaluators are their own gates:
    * [[spanningShaped]] and [[splitEval]] answer None for a shape they
    * cannot compose, the hist tier throws its IllegalArgumentException
    * for one it cannot build. Left = a typed rejection — a
    * straddling/spanning expression with no well-defined composition
    * (mixed-tier), or a native-only expression the hist tier has no
    * reading for (unsupported-hist): evaluating either on one store
    * would answer silently partial or silently empty. */
  private def route(ast: PromQL.Expr, span: Span)
      : Either[Rejection, Routed] = {
    val heads = span.heads
    import heads.{anySelectorSpans, migrationWarnings, selectorUnionsStores,
      straddlesTiers}
    ast match {
      // no native head: the float tier answers alone, no Spark job first
      case _ if heads.hist.isEmpty => oneStore(ast, span)
      // a BARE selector reading BOTH stores (spanning name matchers, a
      // MIGRATED metric with float history, or a nameless selector with
      // a hist head): the union of both stores' vectors (`value` and
      // `histogram` entries side by side; the float share per-series
      // time-shadowed, so a migrated series answers float history
      // before its first native sample, native after, never both)
      case s @ PromQL.Selector(ms, None, _, _) if selectorUnionsStores(ms) =>
        Right(Routed(span.hist(s).unionByName(span.floatShare(s),
          allowMissingColumns = true), Nil, Nil))
      // ...and its RAW-SAMPLES twin at the instant endpoint: both
      // stores' raw matrices, the float share shadowed on the SAMPLE
      // time axis — exactly remote read's rule
      case s @ PromQL.Selector(ms, Some(_), _, _)
          if span.instant && selectorUnionsStores(ms) =>
        val at = span.start
        Right(Routed(PromQLHist.rawRange(s, heads.hist.get.dense, at, at, at)
          .unionByName(heads.dropShadowedFrame(PromQL.rawRange(s,
            heads.float.df, at, at, at), col("t")),
            allowMissingColumns = true), Nil, Nil))
      // SHAPED expressions over a SPANNING selector: the mixed-type
      // lattice where well-defined, everything else rejected loudly
      case _ if anySelectorSpans(ast) =>
        spanningShaped(ast, span).toRight(MixedTier)
      // MULTI-OPERAND expressions whose selectors STRADDLE the stores
      // decompose through the split-tier lattice, each leaf on ITS OWN
      // store (a migrated metric's hist leaf evaluates native-only, the
      // excluded float share rides as the warning); whole-expression
      // routing would answer silently PARTIAL
      case _ if straddlesTiers(ast) =>
        splitEval(ast, span).map(Routed(_, migrationWarnings(ast), Nil))
          .toRight(MixedTier)
      // NAMELESS shapes over both stores (`sum({job="x"})`,
      // `count_over_time({user="x"}[5m]) > 3`) compose through the
      // mixed lattice; anything it does not compose reads one store
      case _ =>
        spanningShaped(ast, span).map(Right(_))
          .getOrElse(oneStore(ast, span))
    }
  }

  /** [[route]] for an expression that reads ONE store: the hist head
    * when every name-bearing selector resolves to a pushed-native
    * metric (nameless only under a histogram_* call,
    * [[namelessHistOk]]), else the float view. */
  private def oneStore(ast: PromQL.Expr, span: Span)
      : Either[Rejection, Routed] = {
    val heads = span.heads
    import heads.routesToHistHead
    val toHist = routesToHistHead(ast, allowNameless = false)
    // a native answer carries the unstitched-migration warning: a
    // migrated metric's float share is not in it
    def native(df: DataFrame, infos: Seq[String] = Nil) =
      Right(Routed(df, heads.migrationWarnings(ast), infos))
    def plain(df: DataFrame) = Right(Routed(df, Nil, Nil))
    val at = span.start
    ast match {
      // a BARE range selector at the instant endpoint — Prometheus's
      // RAW-SAMPLES query (`m[5m]`, what Grafana Explore and promtool
      // issue when debugging): the matched samples with their ORIGINAL
      // timestamps, as a matrix
      case s @ PromQL.Selector(_, Some(_), _, _) if span.instant =>
        if (toHist)
          plain(PromQLHist.rawRange(s, heads.hist.get.dense, at, at, at))
        else plain(PromQL.rawRange(s, span.floatView, at, at, at))
      // a BARE subquery (`expr[1h:5m]`) at the instant endpoint: the
      // inner evaluated on the subquery's absolute grid — a matrix
      case sq: PromQL.Subquery if span.instant =>
        val inner = sq.arg
        if ((PromQLHist.histEvaluable(inner) ||
            PromQLHist.floatEvaluable(inner)) &&
            routesToHistHead(inner, allowNameless = namelessHistOk(inner)))
          native(PromQLHist.subqueryMatrix(sq, heads.hist.get.dense, at,
            span.lb, histNLes))
        else if (toHist) Left(UnsupportedHist)
        else plain(PromQL.subqueryMatrix(sq, span.floatView, at, span.lb,
          start = at, end = at))
      // hist-tier FLOAT-valued shapes (the histogram_* scalar family,
      // count aggregations, and vector-scalar ops over them — every
      // histogram alert's shape) evaluate over the PUSHED native head
      // (Prometheus prefers the native histogram over classic buckets);
      // nameless selectors only when the expression bottoms out in a
      // histogram_* call (a nameless count or bare selector has a
      // float reading and stays there)
      case _ if PromQLHist.floatEvaluable(ast) &&
          routesToHistHead(ast, allowNameless = namelessHistOk(ast)) =>
        native(span.hist(ast))
      case _ if !toHist => plain(span.float(ast))
      // HISTOGRAM-valued shapes (bare selector / rate / sum / avg over a
      // pushed-native metric) answer in the API's native-histogram form
      case _ if PromQLHist.histEvaluable(ast) => native(span.hist(ast))
      // `group` over a pure-native vector is type-AGNOSTIC: one row per
      // group, value 1 — the hist count reshaped
      case PromQL.AggBy("group", by, garg, None)
          if PromQLHist.histEvaluable(garg) =>
        native(span.hist(PromQL.AggBy("count", by, garg, None))
          .withColumn(TsdbSchema.ValueCol, lit(1.0)))
      // value-ranked/statistic shapes over a pure-native vector:
      // Prometheus 3 SKIPS histogram samples — the empty vector + info
      case _ if rankedOverHist(ast).nonEmpty =>
        native(emptyVector, skippedInfo(rankedOverHist(ast).get))
      // every name-bearing selector resolves to the hist head but no
      // hist-tier reading exists: the float tier has no series for the
      // metric, so evaluating there would answer an empty 200
      case _ => Left(UnsupportedHist)
    }
  }

  /** A float vector with no rows (instant or grid shape alike). */
  private def emptyVector: DataFrame =
    spark.range(0).select(col("id").as("t"),
      col("id").cast("double").as(TsdbSchema.ValueCol))

  /** The split-tier evaluation LATTICE for an expression whose
    * selectors STRADDLE the two stores (one name pushed-native, one
    * float/classic): it decomposes recursively through the shapes
    * whose cross-store composition is well-defined —
    *   - set ops (pure label membership, [[PromQLHist.setOpFrames]]);
    *   - binary ops whose recursively-evaluated sides are BOTH
    *     float-valued ([[PromQL.binOpFrames]] — the
    *     `histogram_count(native) / float_m` class, comparisons
    *     included);
    *   - hist × ÷ float-vector ([[PromQLHist.scaleByVector]], `*`
    *     commutes);
    *   - vector-scalar wrappers over a straddling float-valued
    *     operand (`histogram_count(native) / float_m > 0.5`) via
    *     [[PromQL.scalarOp]] —
    * and a NON-straddling node evaluates whole on its own store (the
    * same gates as whole-expression routing). On a range span the
    * shared grid column `t` joins the match keys. None = no
    * well-defined composition (genuinely mixed-VALUE arithmetic, a
    * spanning selector inside, an unsupported hist shape). */
  private def splitEval(e: PromQL.Expr, span: Span): Option[DataFrame] = {
    import span.heads.{anySelectorSpans, routesToHistHead, straddlesTiers}
    def rec(x: PromQL.Expr) = splitEval(x, span)
    val extra = if (span.instant) Nil else Seq("t")
    def hasVal(df: DataFrame): Boolean =
      df.columns.contains(TsdbSchema.ValueCol) &&
        !df.columns.contains(PromQLHist.HistCol)
    def hasHist(df: DataFrame): Boolean =
      df.columns.contains(PromQLHist.HistCol)
    e match {
      case PromQL.SetOp(op, onK, l, r, ign) if straddlesTiers(e) =>
        for { lf <- rec(l); rf <- rec(r) }
          yield PromQLHist.setOpFrames(op, lf, rf, onK, ign)
      case PromQL.BinOp(op, _, l, PromQL.ScalarLit(s), bool, "", _, Seq())
          if straddlesTiers(e) =>
        rec(l).filter(hasVal)
          .map(PromQL.scalarOp(_, op, lit(s), flipped = false, bool = bool))
      case PromQL.BinOp(op, _, PromQL.ScalarLit(s), r, bool, "", _, Seq())
          if straddlesTiers(e) =>
        rec(r).filter(hasVal)
          .map(PromQL.scalarOp(_, op, lit(s), flipped = true, bool = bool))
      case PromQL.BinOp(op, onK, l, r, bool, "", ign, Seq())
          if straddlesTiers(e) =>
        (rec(l), rec(r)) match {
          case (Some(lf), Some(rf)) if hasVal(lf) && hasVal(rf) =>
            Some(PromQL.binOpFrames(op, onK, ign, lf, rf, bool, extra))
          case (Some(lf), Some(rf))
              if !bool && (op == "*" || op == "/") &&
                hasHist(lf) && hasVal(rf) =>
            Some(PromQLHist.scaleByVector(lf, rf, divide = op == "/",
              onK, ign))
          case (Some(lf), Some(rf))
              if !bool && op == "*" && hasHist(rf) && hasVal(lf) =>
            Some(PromQLHist.scaleByVector(rf, lf, divide = false,
              onK, ign))
          case _ => None
        }
      case _ if straddlesTiers(e) || anySelectorSpans(e) => None
      case _ =>
        if (routesToHistHead(e, allowNameless = namelessHistOk(e)) &&
            PromQLHist.floatEvaluable(e)) Some(span.hist(e))
        else if (routesToHistHead(e, allowNameless = false) &&
            PromQLHist.histEvaluable(e)) Some(span.hist(e))
        else if (routesToHistHead(e, allowNameless = false)) None
        else Some(span.floatEval(e))
    }
  }

  /** Serialize an instant vector of ANY value shape: histogram rows
    * via the `histogram` response field, float rows via `value` — a
    * mixed split-tier `or` carries both kinds side by side (each row
    * holds exactly one), Prometheus's own vector shape. `limit` =
    * Prometheus 3's query-endpoint series cap: applied INSIDE the
    * plan (limit n+1, so the collect stays limit-bounded, never
    * universe-bounded) and surfaced as the truncation warning. */
  private def vectorResponse(ex: HttpExchange, iv0: DataFrame, at: Long,
                             limit: Option[Int],
                             warnings: Seq[String],
                             infos: Seq[String]): Unit = {
    import spark.implicits._
    def take(df: DataFrame): Array[String] =
      limit.filter(_ > 0).fold(df)(n => df.limit(n + 1))
        .as[String].collect()
    val iv = iv0.withColumn(TsdbSchema.TimeCol, lit(at))
    val hasH = iv.columns.contains(PromQLHist.HistCol)
    val hasV = iv.columns.contains(TsdbSchema.ValueCol)
    val rows =
      if (hasH && hasV) {
        // the two kinds serialize through different renderers, so the
        // mixed frame is read TWICE — persist the (API-sized) result
        // so the second collect reuses the first's evaluation instead
        // of re-running both stores' scans. The keyed renderers
        // INTERLEAVE the two kinds in labels.Compare order (one
        // label-ordered stream, as Prometheus serializes its vector)
        // so a `limit` truncates label-ordered instead of
        // systematically preferring histogram series.
        val mat = iv.persist()
        try {
          val h = ApiJson.histVectorJsonKeyed(
            mat.where(col(PromQLHist.HistCol).isNotNull)
              .drop(TsdbSchema.ValueCol))
          val f = ApiJson.vectorJsonKeyed(
            mat.where(col(PromQLHist.HistCol).isNull)
              .drop(PromQLHist.HistCol))
          take(h.unionByName(f).orderBy(col("skey")).select(col("json")))
        } finally { mat.unpersist(); () }
      } else if (hasH) take(ApiJson.histVectorJson(iv))
      else take(ApiJson.vectorJson(iv))
    respondCapped(ex, "vector", rows, limit, warnings, infos)
  }

  /** [[vectorResponse]]'s matrix twin for query_range results. */
  private def matrixResponse(ex: HttpExchange, rv: DataFrame,
                             limit: Option[Int],
                             warnings: Seq[String],
                             infos: Seq[String]): Unit = {
    import spark.implicits._
    def take(df: DataFrame): Array[String] =
      limit.filter(_ > 0).fold(df)(n => df.limit(n + 1))
        .as[String].collect()
    val hasH = rv.columns.contains(PromQLHist.HistCol)
    val hasV = rv.columns.contains(TsdbSchema.ValueCol)
    val rows =
      if (hasH && hasV) {
        // persist the mixed frame: two renderers, one evaluation; the
        // keyed renderers interleave in label order (vectorResponse's
        // rationale). A series STRADDLING its migration point has
        // BOTH a float and a histogram share — ONE result object must
        // carry both `values` and `histograms` (Prometheus's matrix
        // shape; two entries with identical labels double-draw in
        // label-keyed clients — the same contract the remote-read
        // responder's merged TimeSeries honors). Collect up to 2
        // keyed rows per allowed series, merge same-key neighbors
        // driver-side (API-sized strings), cap after.
        val mat = rv.persist()
        try {
          val h = ApiJson.histMatrixJsonParts(
            mat.where(col(PromQLHist.HistCol).isNotNull)
              .drop(TsdbSchema.ValueCol, TsdbSchema.TimeCol))
          val f = ApiJson.matrixJsonParts(
            mat.where(col(PromQLHist.HistCol).isNull)
              .drop(PromQLHist.HistCol))
          // field "histograms" < "values", matching the assembled
          // objects' lexicographic order — one label-ordered stream
          val keyed = h.unionByName(f)
            .orderBy(col("skey"), col("field"))
          val taken = limit.filter(_ > 0)
            .fold(keyed)(n => keyed.limit(2 * n + 2))
            .as[(String, String, String, String)].collect()
          mergeSameSeries(taken)
        } finally { mat.unpersist(); () }
      } else if (hasH)
        take(ApiJson.histMatrixJson(rv.drop(TsdbSchema.TimeCol)))
      else take(ApiJson.matrixJson(rv))
    respondCapped(ex, "matrix", rows, limit, warnings, infos)
  }

  /** Assemble the mixed matrix response's objects from their rendered
    * PARTS (`skey`, `metric`, `field`, `payload` — [[ApiJson
    * .matrixJsonParts]]) and merge consecutive same-series rows (one
    * `histograms`, one `values` — a series STRADDLING its migration
    * point) into ONE object carrying both fields. Assembling from
    * separate columns replaces the previous substring surgery on
    * already-rendered JSON, where the `},"` boundary search could land
    * inside a label-value string ('}' and ',' are legal unescaped in
    * JSON strings — round-18 advisor find); `field` is a literal from
    * the renderer, never data. */
  private def mergeSameSeries(rows: Array[(String, String, String, String)])
      : Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    rows.foreach { case (k, m, f, p) =>
      out.lastOption match {
        case Some((pk, pj)) if pk == k =>
          out(out.length - 1) = (k, pj.dropRight(1) + s""","$f":$p}""")
        case _ => out += ((k, s"""{"metric":$m,"$f":$p}"""))
      }
    }
    out.map(_._2).toArray
  }

  /** Prometheus 3's `limit` contract on the query endpoints: at most
    * `n` result SERIES, with the truncation surfaced as a warning —
    * never silently (limit ≤ 0 disables, as there). Evaluation-level
    * `warnings`/`infos` (mixed-type aggregation, skipped histograms,
    * unstitched migrated history) ride the same envelope. */
  private def respondCapped(ex: HttpExchange, resultType: String,
                            rows: Array[String],
                            limit: Option[Int],
                            warnings: Seq[String],
                            infos: Seq[String]): Unit =
    limit.filter(_ > 0) match {
      case Some(n) if rows.length > n =>
        ok(ex, s"""{"resultType":"$resultType","result":[${
          rows.take(n).mkString(",")}]}""",
          warnings = warnings :+ "results truncated due to limit",
          infos = infos)
      case _ =>
        ok(ex,
          s"""{"resultType":"$resultType","result":[${rows.mkString(",")}]}""",
          warnings = warnings, infos = infos)
    }

  /** Whether a fully NAMELESS expression may still route to the hist
    * head: only when its vector operand bottoms out in a histogram_*
    * call — there is no classic float-tier reading of a nameless
    * histogram_* application. Recurses through vector-scalar BinOps so
    * `histogram_count({job="x"}) > 3` routes like the bare call
    * (previously only the TOP-level node was inspected, and wrapping a
    * working nameless hist query in a comparison silently returned
    * empty). A nameless count aggregation or bare selector has a float
    * reading and stays there. */
  private def namelessHistOk(e: PromQL.Expr): Boolean = e match {
    case PromQL.Fn(name, _, _) => PromQLHist.ScalarFns(name)
    case PromQL.BinOp(_, _, l, PromQL.ScalarLit(_), _, _, _, _) =>
      namelessHistOk(l)
    case PromQL.BinOp(_, _, PromQL.ScalarLit(_), r, _, _, _, _) =>
      namelessHistOk(r)
    // ...and through aggregation/rank wrappers: a nameless
    // `sum(histogram_count({job="x"}))` bottoms out in a histogram_*
    // call exactly like the bare call — the float tier has no reading
    // for it (it rejects the family loudly; routing here evaluates it)
    case PromQL.AggBy(_, _, a, _) => namelessHistOk(a)
    case PromQL.AggWithout(_, _, a, _) => namelessHistOk(a)
    case PromQL.RankK(_, _, a, _, _) => namelessHistOk(a)
    case _ => false
  }

  /** Driver-side matcher application for the routing gate — the stored
    * name set is API-sized, and [[PromQL.selectorsOf]] returns
    * TEXT-anchored regexes, so `find()` is a full match. */
  private def matchesMetric(m: graft.model.Matcher, metric: String): Boolean = {
    import graft.model.Matcher._
    m match {
      case Eq(_, v)     => metric == v
      case NotEq(_, v)  => metric != v
      case Re(_, p)     =>
        java.util.regex.Pattern.compile(p).matcher(metric).find()
      case NotRe(_, p)  =>
        !java.util.regex.Pattern.compile(p).matcher(metric).find()
    }
  }

  /** The engine's effective configuration, rendered as the YAML
    * `/api/v1/status/config` returns (Prometheus returns its loaded
    * config file; this server's config IS its constructor state). */
  private def configYaml: String = {
    val ext =
      if (externalLabels.isEmpty) ""
      else externalLabels.sortBy(_._1)
        .map { case (k, v) => s"    $k: $v" }
        .mkString("  external_labels:\n", "\n", "\n")
    val ruleFiles = if (rules.isEmpty) "" else "rule_files:\n  - <inline>\n"
    "global:\n" +
      s"  evaluation_interval: ${rulesIntervalMs / 1000}s\n" +
      ext + ruleFiles
  }

  /** The served head (base table + every remote-write append). */
  def table: DataFrame = current.float.df

  /** Bind 127.0.0.1:`port` (0 = ephemeral) and serve; returns the
    * bound port. Handlers run on a fresh pool of
    * [[PromHttpServer.MaxConcurrency]] daemon threads
    * (`graft-http-<n>`); requests beyond the bound wait in the
    * pool's queue — never refused, as queries wait at
    * Prometheus's query gate — and a client that stalls mid-body ties
    * up one thread, not the server. */
  def start(port: Int = 0): Int = synchronized {
    require(server == null, "server already started")
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    server.createContext("/", (ex: HttpExchange) => handle(ex))
    pool = Executors.newFixedThreadPool(PromHttpServer.MaxConcurrency, (r: Runnable) => {
      val t = new Thread(r,
        s"graft-http-${PromHttpServer.threadSeq.incrementAndGet()}")
      t.setDaemon(true)
      t
    })
    server.setExecutor(pool)
    server.start()
    if (alertmanagers.nonEmpty && rules.nonEmpty) {
      // the notifier loop: evaluate + push firing alerts every rule
      // interval, exactly a Prometheus rule manager's cadence. A dead
      // Alertmanager must never take the server down — errors log and
      // the next tick retries.
      notifier = new java.util.Timer("graft-notifier", true)
      notifier.scheduleAtFixedRate(new java.util.TimerTask {
        override def run(): Unit =
          try { notifyNow(); () }
          catch { case scala.util.control.NonFatal(e) =>
            System.err.println(s"alertmanager notify failed: $e") }
      }, rulesIntervalMs, rulesIntervalMs)
    }
    server.getAddress.getPort
  }

  /** Stop serving: close the listener and every connection, then wait
    * up to [[PromHttpServer.StopWaitMs]] for in-flight handlers before
    * interrupting them. The wait is outside the monitor — a handler
    * may need it to finish. */
  def stop(): Unit = {
    val handlers = synchronized {
      if (notifier != null) { notifier.cancel(); notifier = null }
      if (server != null) { server.stop(0); server = null }
      val p = pool
      pool = null
      p
    }
    if (handlers != null) {
      handlers.shutdown()
      if (!handlers.awaitTermination(PromHttpServer.StopWaitMs,
          TimeUnit.MILLISECONDS)) handlers.shutdownNow(): Unit
    }
  }

  private var notifier: java.util.Timer = _
  private var pool: ExecutorService = _

  // ---- dispatch ------------------------------------------------------

  /** One request, under its own Spark job group (`graft-http-<seq>`,
    * described by the path): its jobs are attributable, and the group
    * is the handle a timeout or cancellation would use. Cleared after,
    * so a pool thread's next request starts clean. */
  private def handle(ex: HttpExchange): Unit = {
    val sc = spark.sparkContext
    try {
      val path = ex.getRequestURI.getPath
      sc.setJobGroup(s"graft-http-${PromHttpServer.requestSeq.incrementAndGet()}",
        path)
      val body = ex.getRequestBody.readAllBytes()
      val params = parseParams(Option(ex.getRequestURI.getRawQuery),
        if (path == "/api/v1/write" || path == "/api/v1/read" ||
            path == "/api/v1/otlp/v1/metrics") None // binary bodies
        else Some(new String(body, UTF_8)))
      path match {
        case "/api/v1/query" => query(ex, params)
        case "/api/v1/query_range" => queryRange(ex, params)
        case "/api/v1/labels" => labels(ex, params)
        case p if p.startsWith("/api/v1/label/") && p.endsWith("/values") =>
          labelValues(ex, params,
            p.stripPrefix("/api/v1/label/").stripSuffix("/values"))
        case "/api/v1/series" => series(ex, params)
        case "/api/v1/query_exemplars" => queryExemplars(ex, params)
        case "/api/v1/rules" => rulesEndpoint(ex, params, alertsOnly = false)
        case "/api/v1/alerts" => rulesEndpoint(ex, params, alertsOnly = true)
        case "/api/v1/metadata" => metadataEndpoint(ex, params)
        case "/api/v1/status/tsdb" => statusTsdb(ex)
        case "/api/v1/status/buildinfo" =>
          // the probe Grafana sends first to detect server features
          ok(ex, """{"version":"3.0.0","revision":"graft",""" +
            """"branch":"main","buildUser":"","buildDate":"",""" +
            """"goVersion":"","features":{}}""")
        case "/api/v1/status/flags" => ok(ex, "{}")
        case "/api/v1/status/config" =>
          // the loaded-config probe (promtool / Grafana admin): the
          // engine's "config" is its constructor state — render it as
          // the YAML Prometheus would return
          ok(ex, s"""{"yaml":${jstr(configYaml)}}""")
        case "/api/v1/status/runtimeinfo" =>
          ok(ex, s"""{"startTime":${jstr(rfc3339(startedAt))},""" +
            s""""CWD":${jstr(System.getProperty("user.dir", "/"))},""" +
            """"reloadConfigSuccess":true,""" +
            s""""lastConfigTime":${jstr(rfc3339(startedAt))},""" +
            """"corruptionCount":0,"goroutineCount":0,""" +
            """"GOMAXPROCS":0,"GOGC":"","GODEBUG":"",""" +
            """"storageRetention":"0s"}""")
        case "/api/v1/targets" =>
          // no scrape manager — data arrives via remote-write/ingest;
          // the dashboard probe gets the well-formed EMPTY answer
          // (exactly what an agentless Prometheus reports)
          ok(ex, """{"activeTargets":[],"droppedTargets":[]}""")
        case "/api/v1/alertmanagers" =>
          // the configured notifier targets (empty when none — the
          // well-formed agent-style answer, same contract as targets)
          val ams = alertmanagers
            .map(u => s"""{"url":${jstr(s"$u/api/v2/alerts")}}""")
            .mkString("[", ",", "]")
          ok(ex,
            s"""{"activeAlertmanagers":$ams,"droppedAlertmanagers":[]}""")
        case "/api/v1/targets/metadata" => targetsMetadata(ex, params)
        case "/api/v1/admin/tsdb/snapshot" => adminSnapshot(ex, params)
        case "/api/v1/admin/tsdb/delete_series" =>
          adminDeleteSeries(ex, params)
        case "/api/v1/admin/tsdb/clean_tombstones" =>
          adminCleanTombstones(ex)
        case "/api/v1/format_query" =>
          ok(ex, jstr(QueryApi.formatQuery(required(params, "query"))))
        case "/api/v1/parse_query" =>
          ok(ex, QueryApi.parseQuery(required(params, "query")))
        case "/federate" => federate(ex, params)
        case "/api/v1/write" => write(ex, body)
        case "/api/v1/otlp/v1/metrics" => otlpWrite(ex, body)
        case "/api/v1/read" => read(ex, body)
        case "/-/healthy" | "/-/ready" => text(ex, 200, "OK")
        case _ => err(ex, 404, "not_found", s"unknown path: $path")
      }
    } catch {
      case e: PromQL.ParseError => err(ex, 400, "bad_data", e.toString)
      case e: PromHttpServer.Unavailable =>
        err(ex, 503, "unavailable", e.getMessage)
      case e: PromHttpServer.UnsupportedHistExpr =>
        err(ex, 422, "execution", e.getMessage)
      case e: PromHttpServer.UnsupportedMixedTierExpr =>
        err(ex, 422, "execution", e.getMessage)
      case e: IllegalArgumentException =>
        err(ex, 400, "bad_data", String.valueOf(e.getMessage))
      case NonFatal(e) => err(ex, 422, "execution", String.valueOf(e))
    } finally {
      sc.clearJobGroup()
      ex.close()
    }
  }

  // ---- admin API (`--web.enable-admin-api`) --------------------------

  /** Gate + data-dir resolution shared by the three admin endpoints.
    * Disabled → 503 `unavailable` "admin APIs disabled", exactly
    * Prometheus's `errorUnavailable` path; enabled without a data dir
    * is a caller configuration error (400). */
  private def adminDir: String = {
    if (!adminApi)
      throw new PromHttpServer.Unavailable("admin APIs disabled")
    dataDir.getOrElse(throw new IllegalArgumentException(
      "admin APIs need a data directory (dataDir)"))
  }

  /** Serializes the three admin endpoints over the data directory, as
    * Prometheus's DB mutex does: delete_series reads, merges and
    * rewrites tombstone files and picks the next WAL segment, and
    * clean_tombstones rewrites and removes blocks, so two of them at
    * once could lose stones or bring deleted data back. Queries never
    * read the data directory and do not take it. */
  private val dataDirLock = new Object

  /** `/api/v1/admin/tsdb/snapshot?skip_head=` — materialize the data
    * dir under `<dataDir>/snapshots/<name>` ([[Backfill.snapshot]]:
    * blocks hard-link, the WAL head flushes as real blocks unless
    * `skip_head`). Returns the snapshot name in Prometheus's
    * `<yyyyMMddTHHmmssZ>-<hex>` shape. */
  private def adminSnapshot(ex: HttpExchange, p: Params): Unit = {
    val dir = adminDir
    val skipHead = p.first("skip_head").exists(_.toBoolean)
    val stamp = java.time.format.DateTimeFormatter
      .ofPattern("yyyyMMdd'T'HHmmss'Z'")
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.now())
    val name = f"$stamp-${System.nanoTime() & 0xffffffffffffL}%012x"
    dataDirLock.synchronized {
      Backfill.snapshot(spark, dir, s"$dir/snapshots/$name",
        skipHead = skipHead)
    }
    ok(ex, s"""{"name":${jstr(name)}}""")
  }

  /** `/api/v1/admin/tsdb/delete_series?match[]=…&start=…&end=…` —
    * tombstone every series matching ANY selector in the inclusive
    * window, across every block and the WAL head
    * ([[TsdbAdmin.deleteSeriesDb]], O(metadata)). 204 on success. */
  private def adminDeleteSeries(ex: HttpExchange, p: Params): Unit = {
    val dir = adminDir
    val sels = p.all("match[]").map(PromQL.parseMatchers)
    if (sels.isEmpty)
      throw new IllegalArgumentException("no match[] parameter provided")
    val mint = p.first("start").map(parseTime).getOrElse(Long.MinValue)
    val maxt = p.first("end").map(parseTime).getOrElse(Long.MaxValue)
    dataDirLock.synchronized {
      sels.foreach(ms => TsdbAdmin.deleteSeriesDb(dir, ms, mint, maxt))
    }
    ex.sendResponseHeaders(204, -1)
  }

  /** `/api/v1/admin/tsdb/clean_tombstones` — rewrite every
    * tombstone-carrying block without its deleted data (new ULID in
    * place, parent removed; a block whose every sample is deleted
    * disappears, as Prometheus's compactor drops empty results).
    * 204 on success. */
  private def adminCleanTombstones(ex: HttpExchange): Unit = {
    val dir = adminDir
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete(): Unit
    }
    dataDirLock.synchronized {
      val stoned = graft.sources.tsdbblock.BlockMeta.list(dir).filter(m =>
        graft.sources.tsdbblock.Tombstones.read(s"${m.dir}/tombstones").nonEmpty)
      stoned.foreach { m =>
        // range = the parent's own exclusive maxTime keeps the cleaned
        // data in ONE block stamped with the same window end
        TsdbAdmin.cleanTombstones(spark, Seq(m.dir), dir,
          blockRangeMs = m.maxTime)
        rm(new java.io.File(m.dir))
      }
    }
    ex.sendResponseHeaders(204, -1)
  }

  /** Metric metadata pushed over remote-write 2.0 (the Metadata
    * sub-message, field 5): metric → (type, unit, help), overriding the
    * configured view's row for the same metric — Prometheus's v2
    * receiver stores pushed metadata exactly like this. Driver-sized
    * (the metric universe). */
  private var pushedMeta = Map.empty[String, (String, String, String)]

  /** Created-timestamp zeros already injected: per-SERIES watermark of
    * the newest start time seen, keyed by a 64-bit hash of the sorted
    * label set — the map's size tracks LIVE series (one entry each),
    * never reset history, and no label map is retained (previously a
    * Set of (full label map, start) grew one entry per reset for the
    * server's lifetime). A start at or before the watermark is
    * history — a retransmit or a superseded reset — and injects
    * nothing; only a NEWER start advances it and lands a zero. A hash
    * collision merely suppresses one injection (reset detection then
    * falls back to the value drop) — it can never corrupt data. */
  private var ctZeroSeen = Map.empty[Long, Long]

  private def seriesHash(ls: Map[String, String]): Long = {
    val sorted = ls.toSeq.sorted
    val h1 = scala.util.hashing.MurmurHash3.orderedHash(sorted, 0x9747b28c)
    val h2 = scala.util.hashing.MurmurHash3.orderedHash(sorted, 0x5bd1e995)
    (h1.toLong << 32) | (h2.toLong & 0xffffffffL)
  }

  /** Flag-gated created-timestamp bookkeeping shared by every receiver
    * path (v2 samples, OTLP counters, v2/OTLP native histograms):
    * returns the (start, labels) pairs whose start is NEWER than the
    * series' watermark, advancing it. Caller builds the zero rows. */
  private def freshCtZeros(cands: Seq[(Long, Map[String, String])])
      : Seq[(Long, Map[String, String])] = synchronized {
    val fresh = cands.distinct.filter { case (st, ls) =>
      ctZeroSeen.get(seriesHash(ls)).forall(_ < st) }
    ctZeroSeen ++= fresh.map { case (st, ls) => seriesHash(ls) -> st }
    fresh
  }

  /** Test hook: the CT bookkeeping's size (must track live series). */
  private[tsdb] def ctZeroSeenSize: Int = synchronized(ctZeroSeen.size)

  /** An EMPTY histogram on the receiver grid at a series' created/start
    * time — what Prometheus's CT ingestion appends for native-histogram
    * series so hist-tier rate/increase see the reset. */
  private def emptyHistAt(st: Long, ls: Map[String, String]) =
    RemoteWrite.SparseHist(st, ls, 0.0, 0.0, histSchemaId, 0.0, 0.0,
      Nil, Nil)

  /** The served metadata universe: the configured view (OpenMetrics
    * triples / WAL kind-6 records) overridden by v2-pushed entries,
    * optionally filtered to one metric, sorted by metric. */
  private def metaRows(metricFilter: Option[String])
      : Seq[(String, (String, String, String))] = {
    val base = metadata.map(_.collect().toSeq.map(r =>
        r.getString(0) -> ((r.getString(1), r.getString(2), r.getString(3))))
        .toMap)
      .getOrElse(Map.empty[String, (String, String, String)])
    val all = base ++ synchronized(pushedMeta)
    metricFilter.fold(all)(m => all.filter(_._1 == m))
      .toSeq.sortBy(_._1)
  }

  /** `/api/v1/targets/metadata` — per-target metric metadata. With no
    * scrape manager the target label set is empty; entries come from
    * the metadata store (the same source as `/api/v1/metadata`),
    * filtered by `metric` and capped by `limit`. Without a store: the
    * well-formed empty array. */
  private def targetsMetadata(ex: HttpExchange, p: Params): Unit = {
    val rows0 = metaRows(p.first("metric"))
    val rows = p.first("limit").map(_.toInt).fold(rows0)(rows0.take)
    val out = rows.map { case (m, (t, u, h)) =>
      s"""{"target":{},"metric":${jstr(m)},""" +
        s""""type":${jstr(t)},"unit":${jstr(u)},""" +
        s""""help":${jstr(h)}}"""
    }
    ok(ex, out.mkString("[", ",", "]"))
  }

  // ---- endpoints -----------------------------------------------------

  private def query(ex: HttpExchange, p: Params): Unit = {
    val q = required(p, "query")
    val at = p.first("time").map(parseTime)
      .getOrElse(System.currentTimeMillis())
    // Prometheus 3's `limit` parameter: cap the result SERIES count,
    // in-plan, with the truncation warning (0/absent = unlimited;
    // negative is the client's error, as in Prometheus)
    val limit = p.first("limit").map(_.toInt)
    require(limit.forall(_ >= 0), "limit must be non-negative")
    val ast = PromQL.parse(q)
    val heads = current
    val r = route(ast,
      new Span(heads, at, at, 0L, heads.floatShareView, lookbackMs))
      .fold(rej => throw rej.http(q), identity)
    ast match {
      // a range-vector-typed expression (a bare range selector's raw
      // samples, a bare subquery's grid) answers with a matrix —
      // Prometheus's instant-endpoint contract
      case PromQL.Selector(_, Some(_), _, _) | _: PromQL.Subquery =>
        matrixResponse(ex, r.df, limit, r.warnings, r.infos)
      // resultType comes from the AST's STATIC type, not the frame's
      // column shape: a no-label one-element vector (e.g. `vector(1)`)
      // evaluates to a (time, value)-only frame yet is a vector
      case _ if PromQL.isScalarTyped(ast) =>
        // scalar result type: one (time, value) row
        val rows = r.df.collect()
        val v = if (rows.isEmpty) "NaN" else fmt(rows.head.getDouble(1))
        ok(ex, s"""{"resultType":"scalar","result":[${sec(at)},"$v"]}""")
      // an instant vector reports the EVALUATION time, not the sample
      // time (the API contract) — vectorResponse stamps it over
      // whatever the frame has
      case _ => vectorResponse(ex, r.df, at, limit, r.warnings, r.infos)
    }
  }

  private def queryRange(ex: HttpExchange, p: Params): Unit = {
    val q = required(p, "query")
    val start = parseTime(required(p, "start"))
    val end = parseTime(required(p, "end"))
    val step = parseStep(required(p, "step"))
    require(end >= start, "end must be >= start")
    require(step > 0, "step must be positive")
    // Prometheus 3's `limit` parameter (series cap + warning;
    // negative = 400, as in Prometheus)
    val limit = p.first("limit").map(_.toInt)
    require(limit.forall(_ >= 0), "limit must be non-negative")
    val ast = PromQL.parse(q)
    // range outputs carry the grid column `t` — matrix-ready
    val heads = current
    val r = route(ast,
      new Span(heads, start, end, step, heads.floatShareView, lookbackMs))
      .fold(rej => throw rej.http(q), identity)
    matrixResponse(ex, r.df, limit, r.warnings, r.infos)
  }

  private def labels(ex: HttpExchange, p: Params): Unit = {
    import spark.implicits._
    val (s, e) = window(p)
    val t = TsdbTable(current.metaView)
    val sels = p.all("match[]").map(PromQL.parseMatchers)
    val names =
      if (sels.isEmpty) TsdbMeta.labelNames(t, s, e, Nil)
      else TsdbMeta.labelNamesAny(t, s, e, sels)
    // `limit` (Prometheus 2.55+) truncates INSIDE the plan — the
    // collect stays limit-bounded, not universe-bounded
    ok(ex, capped(names, p).as[String].collect()
      .map(jstr).mkString("[", ",", "]"))
  }

  private def labelValues(ex: HttpExchange, p: Params, label: String): Unit = {
    import spark.implicits._
    val (s, e) = window(p)
    val t = TsdbTable(current.metaView)
    val sels = p.all("match[]").map(PromQL.parseMatchers)
    val vs =
      if (sels.isEmpty) TsdbMeta.labelValues(t, label, s, e, Nil)
      else TsdbMeta.labelValuesAny(t, label, s, e, sels)
    ok(ex, capped(vs, p).as[String].collect()
      .map(jstr).mkString("[", ",", "]"))
  }

  private def series(ex: HttpExchange, p: Params): Unit = {
    val (s, e) = window(p)
    val sels = p.all("match[]").map(PromQL.parseMatchers)
    require(sels.nonEmpty, "no match[] parameter provided")
    val rows = capped(
      TsdbMeta.seriesAny(TsdbTable(current.metaView), s, e, sels), p)
    val cols = rows.columns
    val out = rows.collect().map { r =>
      cols.zipWithIndex.flatMap { case (c, i) =>
        Option(r.get(i)).map(v => jstr(apiLabel(c)) + ":" + jstr(v.toString))
      }.sorted.mkString("{", ",", "}")
    }
    ok(ex, out.mkString("[", ",", "]"))
  }

  private def queryExemplars(ex: HttpExchange, p: Params): Unit = {
    val store = current.exemplars.map(_.df).getOrElse(
      throw new IllegalArgumentException("exemplar storage is not enabled"))
    val q = required(p, "query")
    val (s, e) = window(p)
    val flat = Exemplars.queryExpr(store, q, s, e)
    val labelCols = flat.columns.filter(_.startsWith(TsdbSchema.LabelPrefix))
    val rows = flat.collect().map { r =>
      val ls = labelCols.flatMap(c => Option(r.getAs[String](c))
        .filter(_.nonEmpty).map(v => apiLabel(c) -> v)).toSeq
      val t = r.getAs[Long](TsdbSchema.TimeCol)
      val v = r.getAs[Double](TsdbSchema.ValueCol)
      val tid = r.getAs[String]("trace_id")
      (ls, (t, v, tid))
    }
    val bySeries = rows.groupBy(_._1).toSeq.sortBy(_._1.mkString(","))
    val out = bySeries.map { case (ls, exs) =>
      val lj = ls.sortBy(_._1)
        .map { case (k, v) => jstr(k) + ":" + jstr(v) }
        .mkString("{", ",", "}")
      val ej = exs.map(_._2).sortBy(_._1).map { case (t, v, tid) =>
        s"""{"labels":{"trace_id":${jstr(tid)}},""" +
          s""""value":"${fmt(v)}","timestamp":${sec(t)}}"""
      }.mkString("[", ",", "]")
      s"""{"seriesLabels":$lj,"exemplars":$ej}"""
    }
    ok(ex, out.mkString("[", ",", "]"))
  }

  /** `/api/v1/rules` and `/api/v1/alerts` — the rules engine's live
    * state over the served head: each configured group re-evaluates on
    * its interval grid over the trailing `rulesHorizonMs`, and the
    * state at the last tick ≤ `time` (a param for determinism, else
    * now) renders in the API's shape — per-rule `state` =
    * firing > pending > inactive, per-element `alerts` with
    * `activeAt`/`value`. Each rule is ONE evalRange pass. */
  /** One rule group's ACTIVE alert elements at the last tick ≤ `at`:
    * (rule name, element labels, activeAt, value, state). Shared by the
    * rules/alerts endpoints and the Alertmanager notifier. */
  private def groupActive(g: RuleFiles.Group, at: Long, heads: Heads)
      : Seq[(String, Seq[(String, String)], Long, Double, String)] = {
    val interval = g.intervalMs.getOrElse(rulesIntervalMs)
    val lastTick = (at / interval) * interval
    // every rule reads through [[route]] — the query endpoints' one
    // decision, over the group's accumulated view (the float head + earlier
    // recorded-rule samples) — inside ONE per-rule containment block:
    // a rejection, a histogram-typed value or a build failure leaves
    // THIS rule empty (inactive; the rest of the group, /api/v1/alerts
    // and the notifier keep evaluating) and lands in ruleEvalErrors, which
    // /api/v1/rules renders as health=err + lastError until a later
    // evaluation succeeds — Prometheus's per-rule-error blast radius,
    // never a silently inactive "ok"
    def ruleEval(ast: PromQL.Expr, view: DataFrame, s: Long, e: Long,
                 step: Long, lb: Long): DataFrame = {
      val key = PromQL.render(ast)
      val outcome =
        try route(ast,
          new Span(heads, s, e, step, heads.shadowCarved(view), lb)) match {
          case Left(rej) => Left(rej.rule(key))
          // a rule's value must be a FLOAT vector: histogram samples in
          // the answer would leak NULL values into the float-only rules
          // machinery. An answer naming a native metric is typed
          // histogram whatever this grid holds (`up > 2 or native`); a
          // nameless selector is typed by the series it matches, so
          // with no histogram sample on the grid its answer is the
          // float vector query_range renders (`sum({job="x"})` where
          // no native series has job="x")
          case Right(r) if r.df.columns.contains(PromQLHist.HistCol) &&
              (heads.namesNative(ast) ||
                !r.df.where(col(PromQLHist.HistCol).isNotNull).isEmpty) =>
            Left((if (heads.straddlesTiers(ast) || heads.anySelectorSpans(ast))
              MixedTier else UnsupportedHist).rule(key))
          case Right(r) if r.df.columns.contains(PromQLHist.HistCol) =>
            val f = PromQL.toValueShape(r.df.drop(PromQLHist.HistCol))
            Right((if (f.columns.contains(TsdbSchema.ValueCol)) f
                   else emptyVector, r.warnings ++ r.infos))
          case Right(r) => Right((r.df, r.warnings ++ r.infos))
        } catch {
          case NonFatal(t) =>
            val msg =
              s"rule evaluation failed (rule inactive until it builds): $t"
            System.err.println(s"$msg — $key")
            Left(msg)
        }
      outcome match {
        case Right((df, notes)) =>
          ruleEvalErrors.remove(key)
          // the evaluation's annotations surface per rule (the
          // `evaluationWarning` extension) instead of vanishing — an
          // excluded-native share must never make an alert silently
          // inactive
          if (notes.nonEmpty) ruleEvalWarnings.put(key, notes.distinct)
          else ruleEvalWarnings.remove(key)
          df
        case Left(msg) =>
          ruleEvalErrors.put(key, msg)
          ruleEvalWarnings.remove(key)
          emptyVector
      }
    }
    val (_, alertsDf) = AlertRules.evaluateGroup(g.rules, heads.float.df,
      start = lastTick - (rulesHorizonMs / interval) * interval,
      end = lastTick, stepMs = interval, lookbackMs = lookbackMs,
      evalRangeFn = ruleEval)
    alertsDf match {
      case None => Nil
      case Some(df) =>
        val rows = df.where(col("t") === lastTick)
        val cols = rows.columns
        val skip = Set("alertname", "t", "active_at", "alertstate",
          TsdbSchema.ValueCol)
        rows.collect().toSeq.map { r =>
          val ls = cols.zipWithIndex.flatMap { case (cn, ix) =>
            if (skip(cn)) None
            else Option(r.get(ix)).map(v => apiLabel(cn) -> v.toString)
          }.toSeq.filter(_._1 != "__name__")
          (r.getAs[String]("alertname"), ls, r.getAs[Long]("active_at"),
            r.getAs[Double](TsdbSchema.ValueCol),
            r.getAs[String]("alertstate"))
        }
    }
  }

  /** The notifier's RESOLVED-detection state: the firing elements of
    * the last notify run, full label set → (activeAt, annotations).
    * An element here that is no longer firing at the next run has
    * RESOLVED — Prometheus posts it with `endsAt` = the resolution
    * time (rules/alerting.go keeps resolved alerts in the active map
    * and the notifier sends them with EndsAt = ResolvedAt) so the
    * Alertmanager closes the incident immediately instead of waiting
    * out the 4×interval validity horizon. */
  private var lastFiring =
    Map.empty[Map[String, String], (Long, Map[String, String])]

  /** Resolved-but-RETAINED alerts: label set → (activeAt, annotations,
    * resolvedAt). Re-sent on every notifier run until
    * `resolvedRetentionMs` elapses (Prometheus keeps resolved alerts
    * active for 15m and `needsSending` re-sends them past the resend
    * delay — a restarted or flaky Alertmanager still learns of the
    * resolution); an element that re-fires leaves this map. */
  private var resolvedRetained =
    Map.empty[Map[String, String], (Long, Map[String, String], Long)]

  /** The NOTIFIER — the last hop of the alerting story: evaluate every
    * rule group at the tick ≤ `at` and POST to each configured
    * Alertmanager's `/api/v2/alerts` (labels = element ∪ rule ∪
    * alertname ∪ external labels; annotations from the rule):
    *
    *   - every FIRING element, `startsAt` = the run's activeAt and
    *     `endsAt` = at + 4 × the group interval (Prometheus's
    *     resend-validity convention so an AM expires the alert if the
    *     sender dies);
    *   - every element firing LAST run but not this one, as an explicit
    *     RESOLVED notification — same labels, `endsAt` = the resolution
    *     time (an endsAt in the past is how the v2 API marks an alert
    *     resolved) — RE-SENT on each subsequent run until
    *     `resolvedRetentionMs` elapses, per Prometheus's
    *     resolved-retention behavior.
    *
    * Returns url → HTTP status. Also runs on the rule interval from a
    * daemon scheduler while the server is started (errors logged to
    * stderr, never fatal — exactly how a Prometheus keeps scraping
    * when its Alertmanager is down). */
  def notifyNow(at: Long = System.currentTimeMillis()): Map[String, Int] = {
    val yaml = rules.getOrElse(return Map.empty)
    if (alertmanagers.isEmpty) return Map.empty
    val heads = current
    val firingNow = RuleFiles.parse(yaml).flatMap { g =>
      val byRule = g.rules.collect {
        case r: AlertRules.AlertRule => r.name -> r
      }.toMap
      groupActive(g, at, heads).collect {
        case (name, ls, activeAt, _, "firing") =>
          val rule = byRule(name)
          val labels = (ls ++ rule.labels.toSeq ++ externalLabels :+
            ("alertname" -> name)).toMap
          val interval = g.intervalMs.getOrElse(rulesIntervalMs)
          (labels, activeAt, rule.annotations, interval)
      }
    }
    val payload = firingNow.map { case (labels, activeAt, anns, interval) =>
      AlertNotifier.AmAlert(labels, anns,
        startsAtMs = activeAt, endsAtMs = at + 4 * interval)
    } ++ synchronized {
      val nowKeys = firingNow.map(_._1).toSet
      val newlyResolved = (lastFiring -- nowKeys).map {
        case (labels, (activeAt, anns)) => labels -> (activeAt, anns, at)
      }
      // re-fired elements leave retention; expired entries drop
      resolvedRetained = ((resolvedRetained -- nowKeys) ++ newlyResolved)
        .filter { case (_, (_, _, rAt)) =>
          at >= rAt && at - rAt <= resolvedRetentionMs }
      lastFiring = firingNow.map { case (l, a, an, _) => l -> (a, an) }.toMap
      resolvedRetained.toSeq.map { case (labels, (activeAt, anns, rAt)) =>
        AlertNotifier.AmAlert(labels, anns,
          startsAtMs = activeAt, endsAtMs = rAt)
      }
    }
    if (payload.isEmpty) Map.empty
    else alertmanagers.map(u => u -> AlertNotifier.post(u, payload)).toMap
  }

  /** Rule-evaluation errors, keyed by the rule expression's canonical
    * rendering: a rule [[route]] rejects, whose value is not a float
    * vector, or whose evaluation could not be BUILT is contained to
    * that rule (empty vector — the rest of the group keeps evaluating
    * and the notifier keeps running) AND surfaced as health=err +
    * lastError; a later successful evaluation clears the entry. */
  private val ruleEvalErrors =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Annotations a healthy rule's evaluation produced (the
    * excluded-native / mixed-samples warnings and skip infos) — rendered
    * as the `evaluationWarning` extension field. Discarding them made a
    * FloatWarnOverTime rule over a native-filled selector a
    * silently-inactive health=ok alert. Keyed by rendered expr,
    * refreshed per evaluation. */
  private val ruleEvalWarnings =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()

  private def rulesEndpoint(ex: HttpExchange, p: Params,
                            alertsOnly: Boolean): Unit = {
    val yaml = rules.getOrElse(
      throw new IllegalArgumentException("no rule files configured"))
    val at = p.first("time").map(parseTime)
      .getOrElse(System.currentTimeMillis())
    import AlertRules.{AlertRule, RecordingRule}
    val heads = current
    val groupsJson = RuleFiles.parse(yaml).map { g =>
      val interval = g.intervalMs.getOrElse(rulesIntervalMs)
      val active = groupActive(g, at, heads)
      def alertJson(name: String, rl: Map[String, String],
                    anns: Map[String, String]): (String, String) = {
        val mine = active.filter(_._1 == name)
        val state =
          if (mine.exists(_._5 == "firing")) "firing"
          else if (mine.nonEmpty) "pending" else "inactive"
        val items = mine.sortBy(_._2.mkString(",")).map {
          case (_, ls, activeAt, v, st) =>
            val lj = (ls ++ rl.toSeq :+ ("alertname" -> name))
              .distinct.sortBy(_._1)
              .map { case (k, vv) => jstr(k) + ":" + jstr(vv) }
              .mkString("{", ",", "}")
            s"""{"labels":$lj,"annotations":${mapJson(anns)},""" +
              s""""state":${jstr(st)},"activeAt":${jstr(rfc3339(activeAt))},""" +
              s""""value":${jstr(fmt(v))}}"""
        }
        (state, items.mkString("[", ",", "]"))
      }
      // health per rule, from the evaluation groupActive just ran: a
      // rule route rejected or could not evaluate renders err +
      // lastError — Prometheus's rule-error contract, never a
      // silently-inactive ok. A healthy rule over a MIGRATED metric
      // additionally surfaces the query endpoints' migration warning
      // as `migrationWarning` (extension field — clients ignore
      // unknown keys): the rules tier evaluates hist-routed names on
      // the native store alone, so an alert over a just-migrated
      // metric misses its pre-migration ticks inside the horizon —
      // transient (the trailing horizon ages past the migration
      // point) but never silent.
      def health(e: String): String = {
        val ast = try Some(PromQL.parse(e))
                  catch { case NonFatal(_) => None }
        val key = ast.map(PromQL.render)
        key.flatMap(k => Option(ruleEvalErrors.get(k))) match {
          case Some(msg) => s""""health":"err","lastError":${jstr(msg)}}"""
          case None =>
            val mw = ast.fold(Seq.empty[String])(heads.migrationWarnings)
            val mwPart =
              if (mw.isEmpty) ""
              else s""","migrationWarning":${jstr(
                mw.mkString("; ") + " — rule evaluation reads the " +
                  "native store for these names, so pre-migration " +
                  "ticks inside the rules horizon are not evaluated")}"""
            // the evaluation's own annotations (excluded-native /
            // mixed-samples / skip infos) — never silently dropped
            val ew = key.flatMap(k => Option(ruleEvalWarnings.get(k)))
              .getOrElse(Nil).filterNot(mw.contains)
            val ewPart =
              if (ew.isEmpty) ""
              else s""","evaluationWarning":${jstr(ew.mkString("; "))}"""
            s""""health":"ok"$mwPart$ewPart}"""
        }
      }
      val rulesJson = g.rules.map {
        case AlertRule(n, e, forMs, kffMs, rl, anns) =>
          val (state, items) = alertJson(n, rl, anns)
          s"""{"type":"alerting","name":${jstr(n)},"query":${jstr(e)},""" +
            s""""duration":${forMs / 1000},""" +
            s""""keepFiringFor":${kffMs / 1000},"labels":${mapJson(rl)},""" +
            s""""annotations":${mapJson(anns)},"state":${jstr(state)},""" +
            s""""alerts":$items,""" + health(e)
        case RecordingRule(n, e, rl) =>
          s"""{"type":"recording","name":${jstr(n)},"query":${jstr(e)},""" +
            s""""labels":${mapJson(rl)},""" + health(e)
      }
      (s"""{"name":${jstr(g.name)},"file":"<inline>",""" +
        s""""interval":${interval / 1000},""" +
        s""""rules":${rulesJson.mkString("[", ",", "]")}}""",
        active)
    }
    if (alertsOnly) {
      // /api/v1/alerts: the flat active-alert list across every group
      val items = groupsJson.flatMap(_._2)
        .sortBy { case (n, ls, _, _, _) => (n, ls.mkString(",")) }
        .map { case (n, ls, activeAt, v, st) =>
          val lj = (ls :+ ("alertname" -> n)).distinct.sortBy(_._1)
            .map { case (k, vv) => jstr(k) + ":" + jstr(vv) }
            .mkString("{", ",", "}")
          s"""{"labels":$lj,"annotations":{},"state":${jstr(st)},""" +
            s""""activeAt":${jstr(rfc3339(activeAt))},""" +
            s""""value":${jstr(fmt(v))}}"""
        }
      ok(ex, s"""{"alerts":${items.mkString("[", ",", "]")}}""")
    } else
      ok(ex, s"""{"groups":${groupsJson.map(_._1).mkString("[", ",", "]")}}""")
  }

  private def mapJson(m: Map[String, String]): String =
    m.toSeq.sortBy(_._1)
      .map { case (k, v) => jstr(k) + ":" + jstr(v) }
      .mkString("{", ",", "}")

  private def rfc3339(ms: Long): String =
    java.time.Instant.ofEpochMilli(ms).toString

  /** `/api/v1/metadata` — metric metadata (type/unit/help) from the
    * configured view (OpenMetrics `# TYPE/UNIT/HELP` triples or WAL
    * kind-6 records), optionally filtered by `metric` and truncated by
    * `limit`. */
  private def metadataEndpoint(ex: HttpExchange, p: Params): Unit = {
    if (metadata.isEmpty && synchronized(pushedMeta).isEmpty)
      throw new IllegalArgumentException("no metric metadata available")
    val rows0 = metaRows(p.first("metric"))
    val rows = p.first("limit").map(_.toInt).fold(rows0)(rows0.take)
    val out = rows.map { case (m, (t, u, h)) =>
      jstr(m) + ":[" +
        s"""{"type":${jstr(t)},"unit":${jstr(u)},""" +
        s""""help":${jstr(h)}}]"""
    }
    ok(ex, out.mkString("{", ",", "}"))
  }

  private def statusTsdb(ex: HttpExchange): Unit = {
    // head stats count EVERY stored series — Prometheus's head is
    // unified, so pushed native-histogram series count too (metaView)
    val stats = TsdbStats.headStats(TsdbTable(current.metaView),
      Long.MinValue, Long.MaxValue, k = 10).collect()
    def section(stat: String): Map[String, Long] = stats
      .filter(_.getString(0) == stat)
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    val tot = section("totals")
    def pairs(stat: String): String = stats
      .filter(_.getString(0) == stat)
      .sortBy(r => (-r.getLong(2), r.getString(1)))
      .map(r => s"""{"name":${jstr(r.getString(1))},"value":${r.getLong(2)}}""")
      .mkString("[", ",", "]")
    ok(ex,
      s"""{"headStats":{"numSeries":${tot.getOrElse("num_series", 0L)},""" +
        s""""numLabelPairs":0,"chunkCount":0,""" +
        s""""minTime":${tot.getOrElse("min_time", 0L)},""" +
        s""""maxTime":${tot.getOrElse("max_time", 0L)}},""" +
        s""""seriesCountByMetricName":${pairs("series_count_by_metric_name")},""" +
        s""""labelValueCountByLabelName":${pairs("label_value_count_by_label_name")},""" +
        s""""seriesCountByLabelValuePair":${pairs("series_count_by_label_value_pair")},""" +
        s""""memoryInBytesByLabelName":[]}""")
  }

  private def federate(ex: HttpExchange, p: Params): Unit = {
    import spark.implicits._
    val sels = p.all("match[]").map(PromQL.parseMatchers)
    require(sels.nonEmpty, "no match[] parameter provided")
    val at = p.first("time").map(parseTime)
      .getOrElse(System.currentTimeMillis())
    // the float side is per-series SHADOW-CARVED on BOTH axes: the
    // sample axis first ([[Heads.floatShareView]] — an in-band dual-write
    // float is a shadow permanently and must never federate as the
    // "latest" sample after a rollback), then as of `at`: a series
    // already migrated to the native store (first native sample ≤ at)
    // federates classic-style from the hist head below — serving its
    // lookback-held stale float sample too would expose the same
    // metric sample twice in one scrape; a series NOT yet migrated
    // (or never) keeps its float rows, so pre-migration federation
    // and partial fleet migrations stay whole
    val heads = current
    val carved = heads.dropShadowedFrame(heads.floatShareView, lit(at))
    val lines = Federate.federate(TsdbTable(carved), sels, at, lookbackMs,
      externalLabels)
    // pushed-native-histogram series federate classic-style (_bucket/
    // _count/_sum from the dense grid) — text exposition cannot carry
    // native histograms, and dropping the series silently breaks a
    // federation hierarchy (they matched, then vanished)
    val all = heads.hist match {
      case Some(hh) => lines.unionByName(
        Federate.federateHists(hh.dense, sels, at, lookbackMs, externalLabels))
      case None => lines
    }
    text(ex, 200, all.as[String].collect().mkString("", "\n", "\n"),
      contentType = "text/plain; version=0.0.4")
  }

  private def write(ex: HttpExchange, body: Array[Byte]): Unit = {
    // CONTENT NEGOTIATION (Remote-Write 2.0 spec): a v2 sender marks
    // the body `application/x-protobuf;proto=io.prometheus.write.v2
    // .Request` — decode with the symbol-table codec; anything else is
    // the v1 WriteRequest. Wire labels carry `__name__`; this table's
    // metric column is `name` — the same mapping RemoteRead.serve
    // applies on its side.
    val isV2 = Option(ex.getRequestHeaders.getFirst("Content-Type"))
      .exists(_.contains("io.prometheus.write.v2.Request"))
    if (isV2) {
      // the v2 spec's partial-write contract applies to ERROR
      // responses too: a sender reads the written-count headers to
      // decide what to retry. Everything decodes and validates before
      // the push publishes, and it publishes whole, so an error
      // response truthfully reports zero — set up front, overwritten
      // with the real counts on success.
      val h = ex.getResponseHeaders
      h.set("X-Prometheus-Remote-Write-Samples-Written", "0")
      h.set("X-Prometheus-Remote-Write-Histograms-Written", "0")
      h.set("X-Prometheus-Remote-Write-Exemplars-Written", "0")
    }
    // the request's float samples (wire labels), its histograms, the
    // synthetic created-timestamp zero histograms, its exemplar rows and
    // its metric metadata
    val (raw, hists, histZeros, exRows, meta) =
      if (isV2) {
        val series = RemoteWrite2.decodeRequest(body)
        val hists = series.flatMap(sr =>
          sr.histograms.map(_.copy(labels = sr.labels.toMap)))
        requireGridSchema(hists)
        // v2 METADATA (field 5: type/unit/help per series) lands in the
        // served metadata view — Prometheus's v2 receiver stores it;
        // dropping it would leave /api/v1/metadata blind to pushed
        // metrics (the same silent-loss class as dropped histograms)
        val meta = series.flatMap { sr =>
          if (sr.metricType != 0 || sr.unit.nonEmpty || sr.help.nonEmpty)
            sr.labels.toMap.get("__name__").map(m => m -> ((
              RemoteWrite2.TypeNames.lift(sr.metricType)
                .getOrElse("unspecified"), sr.unit, sr.help)))
          else None
        }
        // created-timestamp zero ingestion, v2 form: TimeSeries.
        // created_timestamp (field 6) is the series' created/reset
        // time — the same flag-gated zero injection as the OTLP
        // receiver's start_time_unix_nano, once per (series, created).
        // HISTOGRAM-bearing v2 series get the analogous EMPTY histogram
        // at the created time (Prometheus's CT ingestion appends one so
        // hist-tier rate/increase see the reset; previously only float
        // samples seeded zeros and hist series silently missed theirs).
        // Synthetic rows are appended, but NOT counted in the response's
        // Written headers (those report the request's own payload).
        val ctZeros =
          if (!createdZeroIngestion) Nil
          else freshCtZeros(series.collect {
            case sr if sr.createdTimestamp > 0 && sr.samples.nonEmpty &&
                sr.createdTimestamp < sr.samples.map(_._1).min =>
              (sr.createdTimestamp, sr.labels.toMap)
          }).map { case (st, ls) => (st, 0.0, ls) }
        val histZeros =
          if (!createdZeroIngestion) Nil
          else freshCtZeros(series.collect {
            case sr if sr.createdTimestamp > 0 && sr.histograms.nonEmpty &&
                sr.createdTimestamp < sr.histograms.map(_.time).min =>
              (sr.createdTimestamp, sr.labels.toMap)
          }).map { case (st, ls) => emptyHistAt(st, ls) }
        (series.flatMap { sr =>
          sr.samples.map { case (t, v) => (t, v, sr.labels.toMap) }
        } ++ ctZeros, hists, histZeros, exemplarRowsOf(series), meta)
      }
      else {
        // v1 senders ALSO carry native histograms (send_native_
        // histograms, Prometheus ≥ 2.40), exemplars (send_exemplars)
        // and METADATA (WriteRequest.metadata, field 3, which
        // Prometheus sends by default — metadata_config.send, on since
        // 2.23) — a receiver that decodes only samples 204-acks the
        // push while silently losing them (the OTLP-summary failure
        // class). EVERY section decodes BEFORE the push publishes — a
        // request whose samples are malformed (but whose other sections
        // parse) must ingest NOTHING behind its error, the same
        // atomicity contract as the OTLP receiver's.
        val hists = RemoteWrite.decodeHistsOfRequest(body)
        val meta = RemoteWrite.decodeMetadataOfRequest(body).map {
          case (fam, tpe, unit, help) => fam -> ((tpe, unit, help))
        }
        val exRows = RemoteWrite.decodeExemplarsOfRequest(body).map {
          case (lm, el, v, t) =>
            val lbls = lm.map { case (k, vv) =>
              (if (k == "__name__") "name" else k) -> vv }
            val traceId = el.getOrElse("trace_id",
              el.toSeq.sortBy(_._1).headOption.fold("")(_._2))
            (t, v, lbls, traceId)
        }
        val samples = RemoteWrite.decodeRequest(body)
        requireGridSchema(hists)
        (samples, hists, Nil, exRows, meta)
      }
    val decoded = raw.map { case (t, v, ls) =>
      (t, v, ls.map { case (k, vv) =>
        (if (k == "__name__") "name" else k) -> vv })
    }
    val floats = floatBatch(decoded)
    val exemplarsIn = exemplarBatch(exRows)
    publish { heads =>
      // Prometheus appends staleness markers as FLOAT samples even for
      // native-histogram series (one unified store there); this
      // engine's stores are split, so a pushed marker whose metric
      // lives in the hist head — or arrives there with this request —
      // must ALSO end the HIST series; otherwise the float marker lands
      // in a store with no live series and the histogram keeps serving
      // past its death
      val natives = heads.histNames ++
        (hists ++ histZeros).flatMap(_.labels.get("__name__"))
      val staleHistMarkers = raw.collect {
        case (t, v, ls) if TsdbSchema.isStaleMarker(v) &&
            ls.get("__name__").exists(natives) =>
          RemoteWrite.SparseHist(t, ls, 0.0, v, histSchemaId, 0.0, 0.0,
            Nil, Nil)
      }
      heads.append(floats, histBatch(hists ++ histZeros ++ staleHistMarkers),
        exemplarsIn)
    }
    synchronized { pushedMeta ++= meta }
    if (isV2) {
      // v2 receivers MUST report written counts (the spec's
      // partial-write contract)
      val h = ex.getResponseHeaders
      h.set("X-Prometheus-Remote-Write-Samples-Written",
        decoded.size.toString)
      h.set("X-Prometheus-Remote-Write-Histograms-Written",
        hists.size.toString)
      h.set("X-Prometheus-Remote-Write-Exemplars-Written",
        exRows.size.toString)
    }
    ex.sendResponseHeaders(204, -1)
  }

  /** A v2 request's EXEMPLARS as rows for the queryable store. The
    * trace id is the exemplar's `trace_id` label (Prometheus's
    * convention); exemplars without one keep their first label value,
    * and label-less exemplars land with an empty id. */
  private def exemplarRowsOf(series: Seq[RemoteWrite2.Rw2Series])
      : Seq[(Long, Double, Map[String, String], String)] =
    series.flatMap { sr =>
      val lbls = sr.labels.toMap.map { case (k, v) =>
        (if (k == "__name__") "name" else k) -> v }
      sr.exemplars.map { case (elbls, v, t) =>
        val traceId = elbls.toMap.getOrElse("trace_id",
          elbls.sortBy(_._1).headOption.fold("")(_._2))
        (t, v, lbls, traceId)
      }
    }

  /** Exemplar rows as a one-append exemplar [[Head]] in the
    * [[Exemplars]] wide shape (owning series' label columns + time +
    * value + trace_id) — what `/api/v1/query_exemplars` serves. None
    * when there are none. */
  private def exemplarBatch(
      rows: Seq[(Long, Double, Map[String, String], String)]): Option[Head] =
    if (rows.isEmpty) None
    else {
      import spark.implicits._
      val names = rows.flatMap(_._3.keys).distinct.sorted
      val labelCols = names.map(n =>
        col("labels").getItem(n).as(TsdbSchema.labelColName(n)))
      Some(new Head(rows.toDF("time", "value", "labels", "trace_id")
        .select(col("time") +: col("value") +: labelCols :+
          col("trace_id"): _*), 1))
    }

  /** Prometheus's OTLP receiver (`/api/v1/otlp/v1/metrics`, ≥ 2.47):
    * binary-protobuf ExportMetricsServiceRequest in, gauge/sum points
    * appended to the served table exactly like remote-write. Responds
    * with an empty ExportMetricsServiceResponse (a zero-byte proto
    * message), the OTLP/HTTP success contract. */
  private def otlpWrite(ex: HttpExchange, body: Array[Byte]): Unit = {
    // this receiver speaks OTLP/HTTP **binary protobuf** (the
    // collector's default and what Prometheus's endpoint unmarshals);
    // an OTLP/JSON body would mis-decode as protobuf garbage — refuse
    // it LOUDLY with 415 and say what to send instead, rather than
    // 400-ing on a confusing "malformed protobuf" message
    Option(ex.getRequestHeaders.getFirst("Content-Type"))
      .filter(ct => ct.nonEmpty && !ct.contains("application/x-protobuf"))
      .foreach { ct =>
        val msg = ("{\"status\":\"error\",\"errorType\":\"bad_data\"," +
          "\"error\":\"unsupported OTLP content type " + ct +
          "; send application/x-protobuf (the otlphttp exporter's " +
          "default encoding)\"}").getBytes("UTF-8")
        ex.getResponseHeaders.set("Content-Type", "application/json")
        ex.sendResponseHeaders(415, msg.length)
        ex.getResponseBody.write(msg)
        return
      }
    // gzip is the OTLP/HTTP default transport compression — honor the
    // Content-Encoding header like Prometheus's receiver does
    val raw =
      if (Option(ex.getRequestHeaders.getFirst("Content-Encoding"))
            .exists(_.equalsIgnoreCase("gzip")))
        try new java.util.zip.GZIPInputStream(
          new java.io.ByteArrayInputStream(body)).readAllBytes()
        catch { case scala.util.control.NonFatal(e) =>
          throw new IllegalArgumentException(s"bad gzip body: $e") }
      else body
    // malformed protobuf is the CLIENT's error: surface 400 bad_data
    // (the generic NonFatal handler would report it as a 422). A
    // validation failure (delta temporality, bad framing) raises an
    // IllegalArgumentException of its own — pass it through verbatim
    // rather than relabeling it "malformed".
    def dec[T](f: => T): T = try f catch {
      case e: IllegalArgumentException => throw e
      case scala.util.control.NonFatal(e) => throw new IllegalArgumentException(
        s"malformed OTLP protobuf payload: $e")
    }
    // EVERY section decodes and validates BEFORE the first append — a
    // request that 400s must ingest NOTHING (appending exp-histograms
    // first and then rejecting a delta sum would leave a partial write
    // behind an error status)
    val expHistsFull = dec(OtlpProto.decodeHistsFull(raw))
    val expHists = expHistsFull.map(_._1)
    requireGridSchema(expHists)
    // gauge/sum points PLUS explicit-bounds histograms PLUS summaries —
    // Prometheus's OTLP endpoint translates classic histograms into
    // _bucket/_count/_sum series and summaries into
    // {name}{quantile}/_sum/_count series; dropping either would
    // 200-ack a standard collector pipeline while losing its data.
    // Sums follow the default translation strategy
    // (UnderscoreEscapingWithSuffixes): a CUMULATIVE MONOTONIC sum is a
    // counter and lands as {name}_total (suffix skipped when already
    // present); DELTA-temporality sums are REJECTED loudly — a
    // cumulative store cannot ingest deltas, and a 200 that dropped
    // them would be the summary bug's failure class all over again.
    val samplesFull = dec(OtlpProto.decodeSamplesFull(raw)).map {
      case (_, _, ls, OtlpProto.KindDeltaSum, _) =>
        throw new IllegalArgumentException(
          s"delta-temporality sum (metric ${ls.getOrElse("__name__", "?")})" +
            " is not ingestible by a cumulative store; re-export with" +
            " cumulative temporality")
      case (t, v, ls, OtlpProto.KindCounter, st) =>
        val n = ls.getOrElse("__name__", "")
        (t, v, if (n.endsWith("_total")) ls
               else ls + ("__name__" -> (n + "_total")), st, true)
      case (t, v, ls, _, st) => (t, v, ls, st, false)
    }
    // created-timestamp zero ingestion (Prometheus's feature flag of
    // the same name, default OFF like there — the default semantics
    // are decode-and-ignore, relying on value-drop reset detection):
    // a counter point whose start_time_unix_nano precedes its sample
    // seeds a 0 sample at the start time, ON ITS FINAL SERIES NAME
    // (after _total suffixing), once per (series, start time) — so a
    // reset that moves the start time lands a fresh zero and rate()/
    // increase() see the reset even when the post-reset value did not
    // drop below the pre-reset one.
    val ctZeros =
      if (!createdZeroIngestion) Nil
      else freshCtZeros(samplesFull.collect {
        case (t, _, ls, st, true) if st > 0 && st < t => (st, ls)
      }).map { case (st, ls) => (st, 0.0, ls) }
    // ...and the native-histogram analogue: an exponential-histogram
    // point whose start_time_unix_nano precedes its sample seeds an
    // EMPTY histogram at the start time (once per series reset), so
    // hist-tier rate/increase see the reset — previously only float
    // counters got zeros and exp-hist resets were decode-and-ignored
    val histCtZeros =
      if (!createdZeroIngestion) Nil
      else freshCtZeros(expHistsFull.collect {
        case (h, st) if st > 0 && st < h.time &&
            !TsdbSchema.isStaleMarker(h.sum) => (st, h.labels)
      }).map { case (st, ls) => emptyHistAt(st, ls) }
    val samples =
      samplesFull.map { case (t, v, ls, _, _) => (t, v, ls) } ++ ctZeros
    // resource attributes: service.name/namespace/instance.id promote
    // to job/instance on every series (inside the decoders), and the
    // remaining resource attributes land as a `target_info` row — the
    // PromQL info() tier's data source, exactly Prometheus's mapping
    val decoded = dec(
      samples ++ OtlpProto.decodeClassicHists(raw) ++
        OtlpProto.decodeSummaries(raw) ++ OtlpProto.decodeTargetInfo(raw)
    ).map { case (t, v, ls) =>
      (t, v, ls.map { case (k, vv) =>
        (if (k == "__name__") "name" else k) -> vv })
    }
    // exemplars attached to any data point land in the queryable store
    // exactly like remote-write 2.0's (Prometheus's OTLP receiver
    // does the same): trace id = the decoded trace_id hex, owning
    // series = metric name + point attributes
    val exemplarRows = dec(OtlpProto.decodeExemplarRows(raw)).map {
      case (t, v, series, elbls) =>
        val lbls = series.map { case (k, vv) =>
          (if (k == "__name__") "name" else k) -> vv }
        val traceId = elbls.getOrElse("trace_id",
          elbls.toSeq.sortBy(_._1).headOption.fold("")(_._2))
        (t, v, lbls, traceId)
    }
    // every section validated — the push publishes here, once
    val floats = floatBatch(decoded)
    val hists = histBatch(expHists ++ histCtZeros)
    val exemplarsIn = exemplarBatch(exemplarRows)
    publish(_.append(floats, hists, exemplarsIn))
    ex.getResponseHeaders.set("Content-Type", "application/x-protobuf")
    ex.sendResponseHeaders(200, -1)
  }

  /** `/api/v1/read` with RESPONSE-TYPE NEGOTIATION: when the request's
    * `accepted_response_types` includes STREAMED_XOR_CHUNKS, frames
    * stream out under chunked transfer encoding (Content-Type
    * `application/x-streamed-protobuf; proto=prometheus.ChunkedReadResponse`,
    * Prometheus's negotiation contract) via `toLocalIterator` — one
    * frame in driver memory at a time, never the response. Otherwise
    * the SAMPLED body, as before. */
  private def read(ex: HttpExchange, body: Array[Byte]): Unit = {
    val req = RemoteRead.decodeReadRequest(body)
    val wantsChunks = req.acceptedResponseTypes
      .contains(RemoteRead.ResponseStreamedXorChunks)
    // per-QUERY native/float routing: each query reads exactly the
    // store(s) its matchers resolve to — native histograms, float
    // samples, or BOTH (a nameless query, or a regex spanning the
    // stores), merged in labels.Compare order by the routed
    // responders. The old per-REQUEST forall gate silently flipped a
    // MIXED request whole to the float store (its native queries
    // answered empty) and nameless queries never saw native series —
    // the round-17 straddle class, closed on this surface too. The
    // gates are name-universe checks memoized on the request's
    // snapshot ([[Head.names]]: the first read after a float push pays
    // one small distinct job); a skipped store costs nothing. A
    // SERIES stored in BOTH stores serves its native form from its
    // FIRST native sample on (per-series time-aware shadowing,
    // [[Shadowing]]: pre-migration float history stays readable,
    // unmigrated series of a partially-migrated name serve in full, the
    // overlapping float shadow never double-counts).
    // Wire matchers carry raw patterns; the gates (like the serve
    // paths) apply Prometheus's anchored semantics.
    val heads = current
    val hsOpt = heads.hist.map(_.sparse)
    val natives = heads.histNames
    def nameMs(q: RemoteRead.ReadQuery): Seq[graft.model.Matcher] =
      PromQL.anchorMatchers(q.matchers).filter(m =>
        m.name == "__name__" || m.name == "name")
    def wantsHist(q: RemoteRead.ReadQuery): Boolean = {
      val ms = nameMs(q)
      // "" stands in for the ABSENT name here too: histBatch
      // tolerates nameless series and histSlice matches absent ≡ ""
      ms.isEmpty ||
        (natives + "").exists(m => ms.forall(matchesMetric(_, m)))
    }
    def wantsFloat(q: RemoteRead.ReadQuery): Boolean = {
      val ms = nameMs(q)
      // "" stands in for the ABSENT name (the P3 rule): float series
      // may be nameless, and a matcher set that matches the empty
      // name must still read the float store
      ms.isEmpty ||
        (heads.float.names + "").exists(m => ms.forall(matchesMetric(_, m)))
    }
    val floats = TsdbTable(heads.float.df)
    if (wantsChunks) {
      ex.getResponseHeaders.set("Content-Type",
        "application/x-streamed-protobuf; proto=prometheus.ChunkedReadResponse")
      ex.sendResponseHeaders(200, 0) // 0 = chunked transfer encoding
      val out = ex.getResponseBody
      val frames =
        (if (hsOpt.isEmpty) RemoteRead.serveChunked(floats, body)
         else RemoteRead.serveChunkedRouted(floats, hsOpt, body,
           wantsHist, wantsFloat, nativeSince = heads.seriesSince))
          .toLocalIterator()
      while (frames.hasNext) out.write(frames.next())
      out.flush()
    } else {
      val resp =
        if (hsOpt.isEmpty)
          RemoteRead.serve(floats, body, remoteReadSampleLimit)
        else RemoteRead.serveRouted(floats, hsOpt, body,
          remoteReadSampleLimit, wantsHist, wantsFloat,
          nativeSince = heads.seriesSince)
      ex.getResponseHeaders.set("Content-Type", "application/x-protobuf")
      ex.getResponseHeaders.set("Content-Encoding", "snappy")
      ex.sendResponseHeaders(200, resp.length)
      ex.getResponseBody.write(resp)
    }
  }

  // ---- plumbing ------------------------------------------------------

  private final case class Params(m: Map[String, Seq[String]]) {
    def first(k: String): Option[String] = m.get(k).flatMap(_.headOption)
    def all(k: String): Seq[String] = m.getOrElse(k, Nil)
  }

  private def required(p: Params, k: String): String =
    p.first(k).getOrElse(
      throw new IllegalArgumentException(s"missing parameter: $k"))

  /** Merge the URL query string and an x-www-form-urlencoded body —
    * Prometheus accepts both on every endpoint. */
  private def parseParams(rawQuery: Option[String],
                          body: Option[String]): Params = {
    val raw = Seq(rawQuery, body.filter(_.nonEmpty)).flatten.mkString("&")
    val pairs = raw.split("&").toSeq.filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      if (i < 0) (dec(kv), "")
      else (dec(kv.take(i)), dec(kv.drop(i + 1)))
    }
    Params(pairs.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) })
  }

  private def dec(s: String): String = URLDecoder.decode(s, UTF_8)

  /** Unix seconds (fractional ok) or RFC3339 → epoch ms. */
  private def parseTime(s: String): Long =
    if (s.matches("-?\\d+(\\.\\d+)?")) math.round(s.toDouble * 1000)
    else java.time.Instant.parse(s).toEpochMilli

  /** Step: float seconds or a Prometheus duration string. */
  private def parseStep(s: String): Long =
    if (s.matches("\\d+(\\.\\d+)?")) math.round(s.toDouble * 1000)
    else PromQL.parseDuration(s)

  /** Metadata window: absent bounds = the full range (exclusive scan
    * bounds, so widen by one). */
  private def window(p: Params): (Long, Long) = (
    p.first("start").map(parseTime(_) - 1).getOrElse(Long.MinValue),
    p.first("end").map(parseTime(_) + 1).getOrElse(Long.MaxValue))

  /** `limit` parameter (Prometheus 2.55+ on the metadata APIs): cap
    * the result INSIDE the plan so the driver collect is bounded by
    * the caller's budget, not by label/series cardinality. */
  private def capped[T](ds: org.apache.spark.sql.Dataset[T],
                        p: Params): org.apache.spark.sql.Dataset[T] =
    p.first("limit").map(_.toInt).filter(_ > 0).fold(ds)(ds.limit)

  private def apiLabel(col: String): String = {
    val n = col.stripPrefix(TsdbSchema.LabelPrefix)
    if (n == "name") "__name__" else n
  }

  private def sec(ms: Long): String =
    // Locale.ROOT: the f-interpolator uses the default locale, which
    // renders a comma decimal on e.g. de_DE JVMs — invalid JSON
    String.format(java.util.Locale.ROOT, "%.3f", ms / 1000.0)

  private def fmt(v: Double): String =
    if (v == v.toLong.toDouble && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def ok(ex: HttpExchange, dataJson: String,
                 warnings: Seq[String] = Nil,
                 infos: Seq[String] = Nil): Unit = {
    val warn =
      if (warnings.isEmpty) ""
      else s""","warnings":${warnings.map(jstr).mkString("[", ",", "]")}"""
    // Prometheus 3's `infos` annotations array — the non-actionable
    // twin of `warnings` (e.g. "histograms ignored in topk")
    val info =
      if (infos.isEmpty) ""
      else s""","infos":${infos.map(jstr).mkString("[", ",", "]")}"""
    text(ex, 200, s"""{"status":"success","data":$dataJson$warn$info}""",
      contentType = "application/json")
  }

  private def err(ex: HttpExchange, code: Int, typ: String,
                  msg: String): Unit =
    text(ex, code,
      s"""{"status":"error","errorType":${jstr(typ)},"error":${jstr(msg)}}""",
      contentType = "application/json")

  private def text(ex: HttpExchange, code: Int, body: String,
                   contentType: String = "text/plain"): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
  }
}

object PromHttpServer {
  /** JVM-wide counters: handler threads (`graft-http-<n>`) and request
    * job groups stay unique across every server in the process. */
  private val threadSeq = new AtomicLong
  private val requestSeq = new AtomicLong

  /** How long [[PromHttpServer.stop]] waits for in-flight handlers. */
  private val StopWaitMs = 5000L

  /** Handler threads per server: Prometheus's `--query.max-concurrency`
    * default. Requests beyond it wait in the pool's queue. */
  private[tsdb] val MaxConcurrency = 20

  /** Maps to the API's 503 `unavailable` error — Prometheus's
    * `errorUnavailable`, e.g. the admin endpoints when
    * `--web.enable-admin-api` is off. */
  private[tsdb] final class Unavailable(msg: String)
    extends RuntimeException(msg)

  /** Maps to the API's 422 `execution` error: the query's selectors
    * all resolve to pushed-native-histogram series, but the shape is
    * one the hist tier cannot evaluate — answering from the float tier
    * would be a silently EMPTY 200 (the metric has no float series),
    * so the router rejects loudly instead. */
  private[tsdb] final class UnsupportedHistExpr(query: String)
    extends RuntimeException(
      "unsupported expression over native-histogram series: " + query +
        " (supported: selector, rate/increase, sum/avg/count " +
        "aggregation, histogram_* functions, +/- between histograms " +
        "under default matching, * and / by a scalar or matched " +
        "float vector, sum/avg/last_over_time incl. over histogram " +
        "subqueries, limitk/limit_ratio)")

  /** Maps to the API's 422 `execution` error: the expression MIXES
    * pushed-native-histogram and float/classic metrics in a shape the
    * router cannot split per tier. Evaluating it whole on either
    * store silently drops the other side's series (the
    * silently-PARTIAL class); Prometheus itself refuses to combine a
    * histogram and a float sample arithmetically. Splittable shapes —
    * and/or/unless, any binary op between FLOAT-VALUED sides
    * (`histogram_count(native) / float_m`, comparisons included,
    * scalar wrappers too), histogram × ÷ float-vector, and the
    * spanning-selector aggregations (sum/avg/count/min/max/topk/
    * bottomk over a bare spanning selector) — ARE evaluated
    * split-tier and never reach this error. */
  private[tsdb] final class UnsupportedMixedTierExpr(query: String)
    extends RuntimeException(
      "expression mixes native-histogram and float metrics: " + query +
        " (split-tier evaluation covers and/or/unless, binary ops " +
        "between float-valued sides, histogram × ÷ float-vector, and " +
        "sum/avg/count/min/max/topk/bottomk over a bare spanning " +
        "selector; rewrite anything else per tier)")

  /** A pushed histogram in the sparse head: its labels and sample. */
  private type SparseRow =
    (Map[String, String], graft.sources.tsdbblock.WalReader.WalHistogram)

  /** A value computed once, on first read; concurrent first readers
    * wait for it. */
  private final class Memo[T](compute: => T) {
    lazy val value: T = compute
  }

  /** One routed answer: the result frame and the evaluation's
    * annotations (mixed-type warnings, skipped-histogram infos, the
    * unstitched-migration warning). */
  private final case class Routed(df: DataFrame, warnings: Seq[String],
                                  infos: Seq[String])

  /** `route`'s typed rejection: the query endpoints
    * answer it with the 422 `execution` error, the rules tier with
    * health=err + lastError. */
  private sealed trait Rejection {
    def http(query: String): RuntimeException
    def rule(expr: String): String
  }

  /** Straddling/spanning with no well-defined per-store composition. */
  private case object MixedTier extends Rejection {
    def http(query: String): RuntimeException =
      new UnsupportedMixedTierExpr(query)
    def rule(expr: String): String =
      "expression mixes native-histogram and float metrics: " + expr +
        " — rules evaluate on one store; split the rule per tier " +
        "(and/or/unless with a float-valued left side, and " +
        "float-valued split arithmetic like histogram_count(native) / " +
        "float_m, ARE evaluated split-tier)"
  }

  /** Native-only with no hist-tier reading — or, for a rule, a
    * histogram-valued answer where a float vector is required. */
  private case object UnsupportedHist extends Rejection {
    def http(query: String): RuntimeException =
      new UnsupportedHistExpr(query)
    def rule(expr: String): String =
      "unsupported expression over native-histogram series: " + expr +
        " (no float-evaluable hist-tier reading)"
  }
}
