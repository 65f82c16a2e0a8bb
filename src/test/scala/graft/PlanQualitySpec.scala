package graft

/** Plan-shape regressions: the properties the 100 TB design depends on,
  * asserted on the actual physical plans at sf0.001. A refactor that
  * silently turns a broadcast into a shuffle or loses scan pushdown
  * fails here, not in a production-scale incident. */
class PlanQualitySpec extends SparkSpec {

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, Sf0001).queryExecution.executedPlan.toString()

  /** Capture a plan under temporary SQL conf (restored afterwards) —
    * used to pin at-scale shapes that sf0.001 statistics would hide
    * (e.g. a 36 KB fact side legitimately broadcasts locally). */
  private def withConf[T](kvs: (String, String)*)(f: => T): T = {
    val olds = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally olds.foreach { case (k, o) =>
      o.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("star join broadcasts the dimensions (no fact shuffle)") {
    assert(planOf("rel_q2_star_join").contains("BroadcastHashJoin"))
  }

  test("bucketed fact-fact join needs no exchange at the join") {
    val plan = planOf("rel_q18_bucketed_join")
    val joinIdx = plan.indexOf("SortMergeJoin")
    assert(joinIdx >= 0, "bucketed join should be a sort-merge join")
    // bucketed scan-side: no Exchange below the join operator
    assert(!plan.substring(joinIdx).contains("Exchange"),
      "bucket layout must satisfy the join's distribution")
  }

  test("contamination check broadcasts the benchmark side") {
    assert(planOf("pipe_q26_contamination").contains("BroadcastHashJoin"))
  }

  test("group_left vector matching broadcasts the one-per-key side") {
    assert(planOf("tsdb_q29_group_left").contains("BroadcastHashJoin"))
  }

  test("global top-k plans TakeOrderedAndProject, not a one-task sort") {
    for (q <- Seq("tsdb_q13_topk", "tsdb_q38_bottomk")) {
      val plan = planOf(q)
      assert(plan.contains("TakeOrderedAndProject"),
        s"$q should plan per-partition k-heaps:\n$plan")
      // the only single-partition exchange allowed is the one feeding
      // the 10-row re-rank window, which sits ABOVE the limit
      val limIdx = plan.indexOf("TakeOrderedAndProject")
      assert(!plan.substring(limIdx).contains("Exchange SinglePartition"),
        s"$q must not globally sort below the limit:\n$plan")
    }
  }

  test("grouped rank: partitioned window, no single-partition exchange") {
    // topk by (name) ranks within each group — the plan must be a
    // partitioned window (parallel across groups), never a global sort
    val plan = planOf("tsdb_q69_promql_topk_by")
    assert(plan.contains("Window"), s"expected a window plan:\n$plan")
    assert(!plan.contains("Exchange SinglePartition"),
      s"grouped rank must not serialize into one task:\n$plan")
  }

  test("limitk keeps the k-heap plan; limit_ratio filters map-side") {
    assert(planOf("tsdb_q70_promql_limitk").contains("TakeOrderedAndProject"),
      "limitk's global form should plan per-partition k-heaps")
    // limit_ratio adds NO shuffle beyond the instant vector's own
    // (series) aggregation — the hash band is a map-side predicate
    val plan = planOf("tsdb_q71_promql_limit_ratio")
    assert(shuffleExchanges(plan) <= 1,
      s"limit_ratio must not introduce extra shuffles:\n$plan")
  }

  test("tumbling xrate: one exchange — groupBy reuses the window shuffle") {
    // bucket is an attribute before the window, so the window partition
    // and the (series, bucket) aggregation hash identically; the
    // extrapolation itself is a post-aggregate scalar expression
    val plan = planOf("tsdb_q75_promql_xrate")
    assert(shuffleExchanges(plan) == 1,
      s"xrate should shuffle exactly once:\n$plan")
  }

  test("sliding-window rate: window prefilter reaches the scan, ≤2 shuffles") {
    val plan = planOf("tsdb_q43_promql_sliding_rate")
    assert("PushedFilters: \\[[^\\]]*GreaterThan\\(time".r
      .findFirstIn(plan).isDefined,
      s"(start-range, end] prefilter not pushed:\n$plan")
    // one exchange for the per-series lag, one for the (series, t)
    // aggregation after the grid fan-out — a re-scan-per-step shape
    // would show up as more
    val exchanges = shuffleExchanges(plan)
    assert(exchanges <= 2, s"sliding rate re-shuffles ($exchanges):\n$plan")
  }

  test("subquery: one exchange end-to-end, window prefilter at the scan") {
    val plan = planOf("tsdb_q58_promql_subquery")
    assert("PushedFilters: \\[[^\\]]*GreaterThan\\(time".r
      .findFirstIn(plan).isDefined,
      s"subquery grid prefilter not pushed:\n$plan")
    // the series-partitioned lag exchange satisfies BOTH downstream
    // aggregations ((series, t) rate grid, then the per-series fold) —
    // hash partitioning on a subset of the grouping keys clusters them
    val exchanges = shuffleExchanges(plan)
    assert(exchanges <= 1, s"subquery re-shuffles ($exchanges):\n$plan")
  }

  test("range-mode subquery: ONE inner evaluation, not a grid of grids") {
    val plan = planOf("tsdb_q65_promql_range_subquery")
    assert("PushedFilters: \\[[^\\]]*GreaterThan\\(time".r
      .findFirstIn(plan).isDefined,
      s"inner-grid prefilter not pushed:\n$plan")
    // inner instant groupBy, inner sum-by-user, outer (user, t) fold —
    // a per-outer-step re-evaluation would multiply this by the 16-step
    // grid (and show up as a union of per-step subtrees)
    val exchanges = shuffleExchanges(plan)
    assert(exchanges <= 3,
      s"range-mode subquery re-evaluates per step ($exchanges):\n$plan")
  }

  test("@-anchored range fn: pinned-window prefilter reaches the scan") {
    val plan = planOf("tsdb_q64_promql_at_range")
    assert("PushedFilters: \\[[^\\]]*GreaterThan\\(time".r
      .findFirstIn(plan).isDefined,
      s"pinned-window prefilter not pushed:\n$plan")
    // one series-partitioned lag exchange feeds the (series, t) agg
    val exchanges = shuffleExchanges(plan)
    assert(exchanges <= 1, s"anchored window re-shuffles ($exchanges):\n$plan")
  }

  test("time-range matcher query pushes predicates to the parquet scan") {
    val plan = planOf("tsdb_q2_range")
    assert(plan.contains("PushedFilters: ["), "scan should list pushed filters")
    assert("PushedFilters: \\[[^\\]]*GreaterThan\\(time".r
      .findFirstIn(plan).isDefined, s"time bound not pushed:\n$plan")
  }

  test("(time,value) projection prunes label columns at the scan") {
    val plan = planOf("tsdb_q5_count")
    // count(*) should not read any labels.* column
    val readSchema = "ReadSchema: [^\\n]*".r.findFirstIn(plan).getOrElse("")
    assert(!readSchema.contains("labels"), s"labels read for a count: $readSchema")
  }

  test("vector hot paths run native codegen'd kernels, not HOFs") {
    // higher-order aggregate/zip_with is CodegenFallback (interpreted);
    // the scoring/assignment kernels must stay native expressions
    assert(planOf("pipe_q13_ivf_knn").contains("graft_dot"),
      "IVF cell assignment should use the native DotProduct")
    assert(planOf("pipe_q32_kmeans").contains("graft_sqdist"),
      "k-means assignment should use the native SquaredDistance")
    assert(planOf("pipe_q10_knn").contains("graft_cosine"),
      "brute-force scoring should use the native CosineSimilarity")
  }

  test("knn keeps the embedding corpus un-shuffled (broadcast probe)") {
    val plan = planOf("pipe_q10_knn")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), s"probe side should broadcast:\n$plan")
  }

  test("vector set ops broadcast the right-hand instant vector") {
    assert(planOf("tsdb_q32_setops").contains("BroadcastHashJoin"))
  }

  test("histogram_quantile runs its whole window stack on one exchange") {
    // every window + the final filter share partitioning on the group
    // cols; extra exchanges would mean the stack re-shuffles per step.
    // (one exchange for the groupBy binning + one for the window stack)
    val plan = planOf("tsdb_q34_hist_quantile")
    val exchanges = shuffleExchanges(plan)
    assert(exchanges <= 2, s"window stack re-shuffles ($exchanges exchanges):\n$plan")
  }

  // count shuffle Exchange nodes on ANY tree-branch prefix (':-', ': +-',
  // …), excluding BroadcastExchange (which is the cheap path we WANT)
  private def shuffleExchanges(plan: String): Int =
    "(?m)^[\\s:+*-]*Exchange".r.findAllIn(plan).size

  /** Exchanges that move data BY KEY (hash/range) — the shuffles whose
    * count the scale contracts pin. A RoundRobinPartitioning exchange is
    * the scale-adaptive scan fan-out ([[graft.queries.Tables.fanOut]]):
    * present only when the input scan yields fewer splits than cores
    * (the degenerate small-file case), a no-op at any real scale, so
    * plan contracts must not count it. */
  private def keyedExchanges(plan: String): Int = {
    val rr = "RoundRobinPartitioning".r.findAllIn(plan).size
    // the exemption is bounded: ONE round-robin (the scan fan-out) may
    // ride along. A reintroduced post-agg full-payload repartition(n) —
    // the exact shuffle round 19 removed — would be a SECOND round-robin
    // and must fail the contract, not hide under the exemption.
    assert(rr <= 1,
      s"at most one round-robin exchange (the scan fan-out) is exempt:\n$plan")
    shuffleExchanges(plan) - rr
  }

  test("fact-fact join keeps the shuffled SMJ shape at scale") {
    // at sf0.001 the 36 KB orders side broadcasts (correct locally);
    // the 100 TB property is the shape once stats exceed the broadcast
    // threshold — capture with auto-broadcast off to pin it
    val plan = withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      planOf("rel_q3_fact_join")
    }
    assert(plan.contains("SortMergeJoin"),
      s"fact-fact join should sort-merge when neither side broadcasts:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"fact-fact join must never degrade past SMJ:\n$plan")
  }

  test("per-customer window: ONE exchange feeds both window functions") {
    // row_number and the running sum share the partition key, so the
    // plan must reuse one hash exchange — a second exchange would mean
    // the window specs stopped aligning and the fact shuffles twice
    val plan = planOf("rel_q6_window")
    assert(plan.contains("Window"), s"expected a window plan:\n$plan")
    assert(shuffleExchanges(plan) == 1,
      s"window stack should reuse one exchange:\n$plan")
  }

  test("as-of join: the union-tag trick costs exactly one shuffle, no join") {
    val plan = planOf("rel_q11_asof")
    assert(!plan.contains("Join"),
      s"asof must stay union+window, never a range/cross join:\n$plan")
    assert(shuffleExchanges(plan) == 1,
      s"asof should shuffle once (the window partition):\n$plan")
  }

  test("sequence packing shuffles once (per-shard windows, no global sort)") {
    val plan = planOf("pipe_q30_packing")
    val exchanges = shuffleExchanges(plan)
    assert(exchanges === 1, s"packing should be one shard shuffle:\n$plan")
    assert(!plan.contains("rangepartitioning"),
      s"packing must not globally sort:\n$plan")
  }

  test("count-min top-k: broadcast sketch join, k-heap limit, no global sort") {
    val plan = planOf("pipe_q38_cm_heavy_hitters")
    assert(plan.contains("BroadcastHashJoin"),
      s"the depth x width sketch must broadcast, never shuffle-join:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k by estimate should plan per-partition k-heaps:\n$plan")
    // support pruning: light cells are filtered OUT OF the broadcast
    // sketch (a Filter on cnt against the support threshold below the
    // broadcast exchange), so non-heavy candidates die map-side in the
    // join instead of flowing distinct-sized into the final agg
    assert(plan.matches("(?s).*Filter.*cnt#\\d+L( as double\\))? >= .*"),
      s"the broadcast sketch side must carry the support filter:\n$plan")
    assert(plan.matches("(?s).*Filter \\(_cm_hits#\\d+L? = 4\\).*"),
      s"all-rows-survive (hits = depth) must gate the candidates:\n$plan")
  }

  test("metadata API: matcher + time prefilter reach the parquet scan") {
    // label_values reads one pruned slice — the Eq(name) matcher and the
    // exclusive time range must be scan-level filters, not post-scan
    val plan = planOf("tsdb_q86_label_values")
    assert("PushedFilters: \\[[^\\]]*GreaterThan\\(time".r
      .findFirstIn(plan).isDefined,
      s"time range not pushed to the scan:\n$plan")
    // dotted column names print backtick-quoted inside PushedFilters
    assert("PushedFilters: \\[[^\\]]*EqualTo\\(`?labels\\.name`?,click".r
      .findFirstIn(plan).isDefined,
      s"name matcher not pushed to the scan:\n$plan")
  }

  test("native-histogram build partial-aggregates: one exchange carries structs, not samples") {
    val plan = planOf("tsdb_q80_native_hist")
    assert(plan.contains("partial_sum"),
      s"bucket counts must map-side combine before the exchange:\n$plan")
    assert(shuffleExchanges(plan) == 1,
      s"histogram build should cost exactly the grouping shuffle:\n$plan")
    // quantile/fraction over the struct are per-row folds — no window,
    // no join may creep into the family
    for (q <- Seq("tsdb_q82_native_hist_quantile", "tsdb_q84_native_hist_stddev")) {
      val p = planOf(q)
      assert(!p.contains("Window") && !p.contains("Join"),
        s"$q must stay a per-row fold over the bucket array:\n$p")
    }
  }

  test("exemplars: threshold, matchers and range all reach the parquet scan") {
    // derivation + query compose into ONE pruned scan — the value
    // threshold, the Eq(name) matcher and the INCLUSIVE range must be
    // scan-level filters (exemplar reads touch exemplar-sized slices,
    // never the sample universe)
    val plan = planOf("tsdb_q96_exemplars")
    assert("PushedFilters: \\[[^\\]]*GreaterThan\\(value,150".r
      .findFirstIn(plan).isDefined,
      s"exemplar threshold not pushed to the scan:\n$plan")
    assert("PushedFilters: \\[[^\\]]*EqualTo\\(`?labels\\.name`?,purchase".r
      .findFirstIn(plan).isDefined,
      s"name matcher not pushed to the scan:\n$plan")
    assert("PushedFilters: \\[[^\\]]*GreaterThanOrEqual\\(time".r
      .findFirstIn(plan).isDefined,
      s"inclusive range not pushed to the scan:\n$plan")
    assert(!plan.contains("Join"), s"exemplar query must stay scan-only:\n$plan")
  }

  test("alert rule: windows partition per alert label set, never one task") {
    // the state machine is two window passes over (labels) — both must
    // hashpartition on the label set (parallel across series); a
    // single-partition window would serialize the whole rules engine
    val plan = planOf("tsdb_q98_alert_rule")
    assert(plan.contains("Window"), s"expected run-length windows:\n$plan")
    assert(!plan.contains("Exchange SinglePartition"),
      s"alert windows must never collapse to one task:\n$plan")
    assert(!plan.contains("Join"),
      s"continuity is window analysis, not a self-join:\n$plan")
  }

  test("PromQL hist tier: text evaluation keeps the direct-kernel plan shapes") {
    // rate from text = ONE lag window + ONE statically-unrolled groupBy
    // over the SAME keys — the groupBy must reuse the window's
    // partitioning, and the matcher must prefilter before the window;
    // no join may appear anywhere in the tier
    val rate = planOf("tsdb_q91_promql_hist_rate")
    assert(rate.contains("Window"), s"rate needs the lag window:\n$rate")
    assert(!rate.contains("Join"),
      s"the histogram tier must stay join-free:\n$rate")
    // merged quantile = aggregation + per-row fold, no window/join above
    // the daily build
    val q = planOf("tsdb_q90_promql_hist_quantile")
    assert(!q.contains("Join"),
      s"merge+quantile must stay join-free:\n$q")
    assert(q.contains("partial_sum"),
      s"merge must map-side combine:\n$q")
    // the scalar functions are pure projections: the fraction query adds
    // NOTHING but a project over the instant selector's aggregation
    val f = planOf("tsdb_q92_promql_hist_fraction")
    assert(!f.contains("Window") && !f.contains("Join"),
      s"fraction must stay a per-row fold:\n$f")
  }

  test("remote-write codec: one series shuffle on encode, map-side decode") {
    // the encode→decode round trip may shuffle exactly ONCE — the
    // groupBy that packs samples into TimeSeries (the same exchange wide
    // ingest pays anyway). Decode is flatMap over payload bytes: any
    // second exchange or join means payloads started moving between
    // stages, which dies at 100 TB of captured requests
    val plan = planOf("tsdb_q101_remote_write")
    assert(keyedExchanges(plan) == 1,
      s"remote-write round trip must shuffle once (the series groupBy):\n$plan")
    assert(!plan.contains("Join"),
      s"the codec path must stay join-free:\n$plan")
  }

  test("remote-write 2.0 keeps the 1.0 plan shape (one shuffle, join-free)") {
    // symbol interning is in-task string work — it must not change the
    // plan: same single series-groupBy exchange, no joins
    val plan = planOf("tsdb_q120_remote_write2")
    assert(keyedExchanges(plan) == 1,
      s"v2 round trip must shuffle once (the series groupBy):\n$plan")
    assert(!plan.contains("Join"),
      s"the v2 codec path must stay join-free:\n$plan")
  }

  test("streamed remote read: pushdown + one series shuffle, map-side frames") {
    // the wire query's matcher and window must reach the parquet scan
    // (the response is bounded by the QUERY, never a full pass), the
    // per-series grouping is the single exchange, and frame encode +
    // decode are map-side object transforms — a join or second shuffle
    // means response bytes started moving between stages
    val plan = planOf("tsdb_q129_remote_read_chunked")
    assert("PushedFilters: \\[[^\\]]*EqualTo\\(`?labels\\.name`?,click".r
      .findFirstIn(plan).isDefined,
      s"wire matcher not pushed to the scan:\n$plan")
    assert("PushedFilters: \\[[^\\]]*GreaterThan\\(time".r
      .findFirstIn(plan).isDefined,
      s"wire window not pushed to the scan:\n$plan")
    assert(shuffleExchanges(plan) == 1,
      s"remote read must shuffle once (the series groupBy):\n$plan")
    assert(!plan.contains("Join"),
      s"the remote-read path must stay join-free:\n$plan")
  }

  test("streamed HISTOGRAM remote read: one range exchange, map-side frames") {
    // the histogram twin of the float stream: the per-series range
    // exchange is the ONLY shuffle (it both co-locates a series and
    // globally orders the stream in labels.Compare order); chunk encode
    // is a map-side object transform — any join or extra exchange means
    // whole histograms started moving between stages
    import spark.implicits._
    import graft.sources.tsdbblock.WalReader.WalHistogram
    val hs = spark.createDataset((0 until 16).map { i =>
      (Map("name" -> "m", "u" -> s"u${i % 4}"),
        WalHistogram(0L, 1000L * i, 0, 0, 0.0, 0.0, 1.0 + i, 0.5 * i,
          Seq((0, 1.0 + i)), Nil, Nil, isFloat = false))
    })
    val req = graft.tsdb.RemoteRead.encodeReadRequest(
      graft.tsdb.RemoteRead.ReadRequest(
        Seq(graft.tsdb.RemoteRead.ReadQuery(0L, Long.MaxValue - 1,
          Seq(graft.model.Matcher.Eq("name", "m")))),
        acceptedResponseTypes =
          Seq(graft.tsdb.RemoteRead.ResponseStreamedXorChunks)))
    val plan = graft.tsdb.RemoteRead.serveChunkedHists(hs, req)
      .queryExecution.executedPlan.toString()
    assert(shuffleExchanges(plan) == 1,
      s"hist remote read must shuffle once (the series range exchange):\n$plan")
    assert(plan.toLowerCase.contains("rangepartitioning"),
      s"the one exchange must be the ordering RANGE exchange:\n$plan")
    assert(!plan.contains("Join"),
      s"the hist remote-read path must stay join-free:\n$plan")
  }

  test("range absent_over_time: ONE presence pass, grid anti-join broadcasts") {
    // the per-step absent check must not re-scan per grid step, and the
    // anti-join's build side is the DISTINCT present steps — bounded by
    // the grid size, so it must broadcast at any data scale
    val plan = planOf("tsdb_q132_promql_absent_range")
    assert(plan.sliding("Scan parquet".length).count(_ == "Scan parquet") == 1,
      s"absent_over_time must scan once, not per step:\n$plan")
    assert(plan.contains("BroadcastHashJoin") &&
      plan.contains("LeftAnti"),
      s"the grid anti-join must broadcast the step set:\n$plan")
  }

  test("ivf+pq: probe tables join BROADCAST on cell, corpus never shuffles for candidates") {
    // the candidate join must broadcast the (probes × nProbe)-row table
    // side — a shuffle here would move the whole encoded corpus to
    // score a handful of probes
    val plan = planOf("pipe_q47_ivfpq_knn")
    assert(plan.contains("BroadcastHashJoin"),
      s"the probe-table join must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the candidate join must not shuffle-join:\n$plan")
  }

  test("info(): the target_info side joins BROADCAST, never shuffled") {
    // info metrics are target-universe-sized; a shuffle join here would
    // move the full sample-side vector for a metadata-sized enrichment
    val plan = planOf("tsdb_q118_promql_info")
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"),
      s"info() must broadcast the info vector:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"info() must not shuffle-join:\n$plan")
  }

  test("keep_firing_for: one label-set shuffle, map-side grid walk") {
    // the sequential machine costs exactly the window path's data
    // movement: ONE hash exchange keyed by label set feeding the
    // flatMapGroups walk — no join, no single-partition collapse
    val plan = planOf("tsdb_q140_keep_firing_for")
    assert(!plan.contains("Exchange SinglePartition"),
      s"the grid walk must parallelize across elements:\n$plan")
    assert(!plan.contains("Join"),
      s"keep-firing continuity is per-group state, not a join:\n$plan")
  }

  test("residual IVFADC keeps ivf+pq's broadcast candidate join") {
    // residual encoding adds a literal-array zip_with to the map side;
    // the candidate join must still broadcast the per-(probe, cell)
    // table frame — the corpus never shuffles to be scored
    val plan = planOf("pipe_q50_ivfpq_residual")
    assert(plan.contains("BroadcastHashJoin"),
      s"the probe-table join must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the candidate join must not shuffle-join:\n$plan")
  }

  test("pq family: no all-pairs scoring, ONE rank window per query") {
    // pipe_q46/q47/q50 are among the most expensive pipeline queries
    // and drifted upward two bench rounds with no pinned shape — these
    // assertions make any future drift attributable to load, not to a
    // silent plan regression. The ADC distance tables are DRIVER-built
    // literals riding inside expressions: scoring must never join a
    // codeword table against the encoded corpus (no cartesian / nested-
    // loop), and the per-probe top-k must be exactly one Window pass.
    for (q <- Seq("pipe_q46_pq_knn", "pipe_q47_ivfpq_knn",
        "pipe_q50_ivfpq_residual")) {
      val plan = planOf(q)
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"$q: scoring must stay keyed, never all-pairs:\n$plan")
      // `Window [` is the window-function node; WindowGroupLimit nodes
      // are the rank-pushdown k-heap (wanted, not counted)
      val windows = "(?m)^[\\s:+*-]*Window \\[".r.findAllIn(plan).size
      assert(windows == 1,
        s"$q: expected exactly ONE rank window, got $windows:\n$plan")
      // the brute-force pq path (q46) is join-free outright: the probe
      // tables ride as literals, the corpus is scored map-side
      if (q == "pipe_q46_pq_knn")
        assert(!plan.contains("SortMergeJoin") &&
          !plan.contains("BroadcastHashJoin"),
          s"$q: ADC tables must be literals, not a join side:\n$plan")
    }
  }

  test("OTLP histogram paths stay join-free and map-side") {
    // encode is one groupBy-free projection chain (to_json of literal
    // structure); decode is from_json + explodes — neither may join,
    // and the exp-hist densify must not collapse to one task
    for (q <- Seq("tsdb_q141_otlp_exp_hist", "tsdb_q142_otlp_classic_hist")) {
      val plan = planOf(q)
      assert(!plan.contains("SortMergeJoin") &&
        !plan.contains("BroadcastHashJoin"),
        s"$q: the OTLP codec path must be join-free:\n$plan")
    }
  }

  test("sampled training: the bottom-k sample selection is a TakeOrdered, not a sort") {
    // the ONLY linear cost left in training must plan as per-partition
    // top-n + merge; a global Sort+Limit would shuffle the corpus
    val pre = queries.Tables.load(spark, Sf0001, "embeddings")
      .select(org.apache.spark.sql.functions.col("vec_id").as("id"),
        org.apache.spark.sql.functions.col("embedding")
          .cast("array<double>").as("v"))
      .withColumn("h", functions.Hashing.hash64(
        org.apache.spark.sql.functions.col("id").cast("string")))
      .orderBy(org.apache.spark.sql.functions.col("h").asc,
        org.apache.spark.sql.functions.col("id").asc)
      .limit(200)
    val plan = pre.queryExecution.executedPlan.toString()
    assert(plan.contains("TakeOrderedAndProject"),
      s"sample selection must be a bounded top-n:\n$plan")
  }

  test("hist ± hist: a hash-keyed equi-join, never a nested loop") {
    // histogram arithmetic matches on null-safe label keys — both
    // operands are series-count vectors, so the planner must keep a
    // hash-keyed join (broadcast or SMJ); a BNLJ/cartesian here means
    // the null-safe keys stopped being join keys and the plan degrades
    // to all-pairs at scale
    val plan = planOf("tsdb_q156_promql_hist_add")
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("SortMergeJoin") ||
      plan.contains("ShuffledHashJoin"), s"no equi-join:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"histArith degraded to all-pairs:\n$plan")
  }

  test("hist ÷ float-vector and split-tier set ops: equi-joins, " +
      "never all-pairs") {
    // scaleByVector composes the histArith join with histScale; the
    // split-tier set ops are membership joins on key tuples — BOTH
    // sides series-count-sized, so any BNLJ/cartesian is a plan
    // regression that degrades to all-pairs at scale
    for (q <- Seq("tsdb_q175_promql_hist_div_vector",
        "tsdb_q180_promql_mixed_or", "tsdb_q181_promql_mixed_unless")) {
      val plan = planOf(q)
      assert(plan.contains("BroadcastHashJoin") ||
        plan.contains("SortMergeJoin") ||
        plan.contains("ShuffledHashJoin"), s"$q: no equi-join:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"),
        s"$q degraded to all-pairs:\n$plan")
    }
  }

  test("migration stitch and split-tier division: the shadow filter is " +
      "a BROADCAST join, the split division an equi-join — never " +
      "all-pairs") {
    // q185's float share filters against the per-series since table —
    // series-universe-sized by construction, so it must BROADCAST (a
    // shuffled or nested-loop join there turns every float read into a
    // sample-sized exchange at 100 TB); q186 composes two
    // series-count-sized float vectors through the keyed one-to-one
    // kernel — any BNLJ/cartesian is the all-pairs regression
    val stitched = planOf("tsdb_q185_promql_migrated_stitch")
    assert(stitched.contains("BroadcastHashJoin"),
      s"shadow filter must broadcast the since table:\n$stitched")
    assert(!stitched.contains("BroadcastNestedLoopJoin") &&
      !stitched.contains("CartesianProduct"),
      s"stitch degraded to all-pairs:\n$stitched")
    for (q <- Seq("tsdb_q186_promql_split_div",
        "tsdb_q187_promql_mixed_count", "tsdb_q188_promql_mixed_sum",
        "tsdb_q190_promql_offset_stitch",
        "tsdb_q191_promql_mixed_sum_without")) {
      val plan = planOf(q)
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"),
        s"$q degraded to all-pairs:\n$plan")
    }
  }

  test("shadowing holds its broadcast shape at a 100k migrated-series " +
      "universe (the 100 TB since-table claim, exercised)") {
    // the since table is bounded by MIGRATED-series count, not
    // samples — but the claim deserves a non-toy universe: 100k
    // migrated series against a 2M-row float head. dropShadowed
    // FORCES the broadcast (explicit hint), so the shape must hold
    // regardless of autoBroadcastJoinThreshold; the assertion run
    // also proves a 100k-key broadcast build completes in-memory.
    import org.apache.spark.sql.functions._
    val series = 100000
    val wide = spark.range(2000000L)
      .select((col("id") % series).cast("string").as("labels.user"),
        lit("m").as("labels.name"),
        (col("id") * 7L % 100000L).as("time"),
        rand(7).as("value"))
    // half the series migrated, each owning [25k, 75k)
    val hist = spark.range(series / 2)
      .select(col("id").cast("string").as("labels.user"),
        lit("m").as("labels.name"), lit(25000L).as("time"),
        lit(1.0).as("hist"))
    val since = graft.tsdb.Shadowing.seriesSince(hist, 50000L)
      .localCheckpoint(true)
    val carved = graft.tsdb.Shadowing.dropShadowed(wide,
      graft.tsdb.Shadowing.skeyOfWide(wide), col("time"), Some(since))
    val plan = carved.queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin"),
      s"100k-series since table must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("CartesianProduct"),
      s"shadow carve must never shuffle the sample side:\n$plan")
    // the carve's row count: unmigrated half keeps everything; the
    // migrated half drops exactly its in-window samples
    val kept = carved.count()
    assert(kept > 0 && kept < 2000000L, kept.toString)
  }

  test("block write groups + places blocks through ONE keyed exchange") {
    // the write is one placed sort: `repartitionById` on the slice both
    // groups each block's rows into one task and places consecutive
    // slices in distinct tasks, so the plan carries exactly one keyed
    // exchange — a partition-id pass-through on `slice`, at the
    // session's shuffle width (pinned, REPARTITION_BY_NUM, so AQE
    // cannot coalesce the CPU-heavy encode) — and no aggregate collects
    // a series' samples (the sort within the task does the grouping).
    import org.apache.spark.sql.functions._
    val long = SparkEntry.queries("tsdb_q1_scan")(spark, Sf0001)
      .select(col("time"), col("value"),
        map(lit("__name__"), coalesce(col("`labels.name`"), lit("")),
          lit("user"), coalesce(col("`labels.user`"), lit("")))
          .as("labels"))
    val plan = graft.sources.tsdbblock.TsdbBlockWriter
      .sortedForWrite(long, blockRangeMs = 7L * 86400000L)
      .queryExecution.executedPlan.toString()
    val placed = "(?i)shufflepartitionidpassthrough\\([^\\n]*slice".r
      .findAllIn(plan).size
    assert(placed == 1,
      s"block write must place blocks ONCE by slice id ($placed):\n$plan")
    assert(keyedExchanges(plan) == 1,
      s"the slice placement must be the only keyed exchange:\n$plan")
    assert(plan.contains("REPARTITION_BY_NUM"),
      s"the placement width must be pinned against AQE coalescing:\n$plan")
    assert(!plan.contains("ObjectHashAggregate") &&
      !plan.contains("HashAggregate") && !plan.contains("SortAggregate"),
      s"no aggregate may collect a series' samples:\n$plan")
  }

  test("WAL write places each series through ONE keyed exchange") {
    // `repartitionById` on a hash of the sorted label entries puts each
    // series in the task that writes its segment, at the segment count
    // (REPARTITION_BY_NUM, so AQE cannot coalesce segments away); the
    // sort within the task groups the series, so no aggregate collects
    // its samples and no second exchange balances segments
    import org.apache.spark.sql.functions._
    val long = SparkEntry.queries("tsdb_q1_scan")(spark, Sf0001)
      .select(col("time"), col("value"),
        map(lit("__name__"), coalesce(col("`labels.name`"), lit("")),
          lit("user"), coalesce(col("`labels.user`"), lit("")))
          .as("labels"))
    val plan = graft.sources.tsdbblock.TsdbWalWriter
      .placedForWal(long, 4, col("value"))
      .queryExecution.executedPlan.toString()
    val placed = "(?i)shufflepartitionidpassthrough\\([^\\n]*entries".r
      .findAllIn(plan).size
    assert(placed == 1,
      s"WAL write must place series ONCE by their entries ($placed):\n$plan")
    assert(keyedExchanges(plan) == 1,
      s"the series placement must be the only keyed exchange:\n$plan")
    assert(plan.contains("REPARTITION_BY_NUM"),
      s"the segment count must be pinned against AQE coalescing:\n$plan")
    assert(!plan.contains("ObjectHashAggregate") &&
      !plan.contains("HashAggregate") && !plan.contains("SortAggregate"),
      s"no aggregate may collect a series' samples:\n$plan")
  }

}
