package graft.tsdb

import graft.SparkSpec
import graft.model.Matcher
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PromQL front end: parse structure, parse errors, and — the real
  * contract — parse+eval ≡ the direct operator calls for every
  * supported shape. */
class PromQLSpec extends SparkSpec {
  import spark.implicits._
  import PromQL._

  test("selector parses all four matcher ops, range and offset") {
    val e = parse("""http_requests{job="api",env!="dev",zone=~"us-.*",k!~"9"}[5m] offset 1h""")
    assert(e === Selector(Seq(
      Matcher.Eq("__name__", "http_requests"),
      Matcher.Eq("job", "api"), Matcher.NotEq("env", "dev"),
      Matcher.Re("zone", "us-.*"), Matcher.NotRe("k", "9")),
      rangeMs = Some(300000L), offsetMs = 3600000L))
  }

  test("operator grammar: agg by / rank / function nesting") {
    assert(parse("""sum by (user, k) ({name="purchase"})""") ===
      AggBy("sum", Seq("user", "k"),
        Selector(Seq(Matcher.Eq("name", "purchase")), None, 0L)))
    assert(parse("""topk(5, {name="click"})""") ===
      RankK("topk", 5, Selector(Seq(Matcher.Eq("name", "click")), None, 0L)))
    assert(parse("""holt_winters({name="purchase"}[1d], 0.5, 0.3)""") ===
      Fn("holt_winters",
        Selector(Seq(Matcher.Eq("name", "purchase")), Some(86400000L), 0L),
        Seq(0.5, 0.3)))
    assert(parse("""quantile_over_time(0.9, {name="purchase"}[6h])""") ===
      Fn("quantile_over_time",
        Selector(Seq(Matcher.Eq("name", "purchase")), Some(21600000L), 0L),
        Seq(0.9)))
  }

  test("operator precedence follows the Prometheus ladder") {
    val a = Selector(Seq(Matcher.Eq("__name__", "a")), None, 0L)
    val b = Selector(Seq(Matcher.Eq("__name__", "b")), None, 0L)
    val c = Selector(Seq(Matcher.Eq("__name__", "c")), None, 0L)
    // * binds tighter than +
    assert(parse("a + b * c") ===
      BinOp("+", Nil, a, BinOp("*", Nil, b, c)))
    // comparison binds looser than arithmetic
    assert(parse("a > b + c") ===
      BinOp(">", Nil, a, BinOp("+", Nil, b, c)))
    // and/unless loosest but for or; both looser than comparisons
    assert(parse("a > c or a and b") ===
      SetOp("or", Nil, BinOp(">", Nil, a, c), SetOp("and", Nil, a, b)))
    // ^ tightest and RIGHT-associative: 2^3^2 = 2^(3^2) = 512
    assert(fold(parse("2 ^ 3 ^ 2")) === ScalarLit(512.0))
    assert(fold(parse("2 + 3 * 4 ^ 2")) === ScalarLit(50.0))
    // unary minus sits AT the mul level (Prometheus %prec MUL): ^ binds
    // tighter, so -1^2 = -(1^2); an explicit paren restores (-1)^2
    assert(fold(parse("-1 ^ 2")) === ScalarLit(-1.0))
    assert(fold(parse("(-1) ^ 2")) === ScalarLit(1.0))
    assert(fold(parse("2 ^ -1")) === ScalarLit(0.5))
    assert(fold(parse("-2 ^ -2 ^ 1")) === ScalarLit(-0.25))
    // left-associativity within a level: 8 / 4 / 2 = 1, 7 - 3 - 2 = 2
    assert(fold(parse("8 / 4 / 2")) === ScalarLit(1.0))
    assert(fold(parse("7 - 3 - 2")) === ScalarLit(2.0))
    // no-whitespace lexing: a greedy number scan must not eat operators
    assert(fold(parse("1+2*3")) === ScalarLit(7.0))
    assert(fold(parse("1e2+2.5e1")) === ScalarLit(125.0))
  }

  test("% is fmod (dividend sign), ^ is pow, unary minus negates") {
    assert(fold(parse("7 % 3")) === ScalarLit(1.0))
    assert(fold(parse("-7 % 3")) === ScalarLit(-1.0))  // Go math.Mod sign
    assert(fold(parse("7.5 % 2")) === ScalarLit(1.5))
    assert(fold(parse("-2 + 3")) === ScalarLit(1.0))
    assert(fold(parse("2 - -3")) === ScalarLit(5.0))
    // unary minus on a vector desugars to (-1) * v
    assert(parse("""-{name="up"}""") ===
      BinOp("*", Nil, ScalarLit(-1.0),
        Selector(Seq(Matcher.Eq("name", "up")), None, 0L)))
    val neg = evalQ("""-{name="up"}""")
      .select(col("`labels.user`"), col("value"))
      .as[(String, Double)].collect().toMap
    assert(neg === Map("a" -> -9.0, "b" -> -8.0))
    // vector % and ^ map values per series
    val m = evalQ("""{name="up"} % 4""")
      .select(col("`labels.user`"), col("value"))
      .as[(String, Double)].collect().toMap
    assert(m === Map("a" -> 1.0, "b" -> 0.0))
    val sq = evalQ("""{name="up"} ^ 2""")
      .select(col("`labels.user`"), col("value"))
      .as[(String, Double)].collect().toMap
    assert(sq === Map("a" -> 81.0, "b" -> 64.0))
  }

  test("parse errors carry offsets; trailing input rejected") {
    intercept[ParseError](parse("""{job=api}"""))          // unquoted value
    intercept[ParseError](parse("""{job="a"} junk"""))     // trailing input
    intercept[ParseError](parse("""rate({j="a"}[5q])"""))  // bad unit
  }

  test("durations: compound components, ms and y units, descending order") {
    def rangeOf(q: String) =
      parse(q).asInstanceOf[Fn].arg.asInstanceOf[Selector].rangeMs.get
    assert(rangeOf("""rate({j="a"}[1h30m])""") === 5400000L)
    assert(rangeOf("""rate({j="a"}[1w2d])""") === 777600000L)
    assert(rangeOf("""rate({j="a"}[1500ms])""") === 1500L)
    assert(rangeOf("""rate({j="a"}[1m30s])""") === 90000L)
    assert(rangeOf("""rate({j="a"}[1y])""") === 365L * 86400000L)
    // units must strictly descend (Prometheus rejects 30m1h and 1h1h)
    intercept[ParseError](parse("""rate({j="a"}[30m1h])"""))
    intercept[ParseError](parse("""rate({j="a"}[1h1h])"""))
    // compound offsets too
    assert(parse("""{j="a"} offset 1h30m""")
      .asInstanceOf[Selector].offsetMs === 5400000L)
  }

  // a tiny wide table: two series over two days
  private val wide = Seq(
    (0L, 1.0, "up", "a"), (3600000L, 4.0, "up", "a"),
    (86400000L, 9.0, "up", "a"),
    (0L, 2.0, "up", "b"), (7200000L, 8.0, "up", "b"),
    (0L, 5.0, "down", "a")
  ).toDF("time", "value", "labels.name", "labels.user")

  private val At = 90000000L
  private def evalQ(q: String): DataFrame =
    eval(parse(q), wide, at = At, lookbackMs = 86400000L,
      start = -1L, end = 100000000L)

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  test("instant selector ≡ TsdbTable.select + instant") {
    assert(rows(evalQ("""{name="up"}""")) ===
      rows(RangeVectors.instant(
        TsdbTable(wide).select(Seq(Matcher.Eq("name", "up"))),
        At, 86400000L)))
  }

  test("rate over a range selector ≡ RangeVectors.rate") {
    assert(rows(evalQ("""rate({name="up"}[1d])""")) ===
      rows(RangeVectors.rate(
        TsdbTable(wide).select(-1L, 100000000L, Seq(Matcher.Eq("name", "up"))),
        86400000L)))
  }

  test("holt_winters params flow through (sf/tf and complements)") {
    assert(rows(evalQ("""holt_winters({name="up"}[1d], 0.5, 0.3)""")) ===
      rows(RangeVectors.holtWinters(
        TsdbTable(wide).select(-1L, 100000000L, Seq(Matcher.Eq("name", "up"))),
        86400000L, 0.5, 0.5, 0.3, 0.7)))
  }

  test("sum by ≡ groupBy over the instant vector") {
    val got = evalQ("""sum by (name) ({user="a"})""")
      .as[(String, Double)].collect().toMap
    // instant at 90000000: series (up,a) last=9.0@86400000, (down,a)
    // last=5.0@0 is OUTSIDE the 1d lookback (90000000-86400000=3600000)
    assert(got === Map("up" -> 9.0))
  }

  test("offset shifts the instant evaluation window") {
    // offset 1d moves eval to t=3600000 with window (-82800000, 3600000]:
    // (up,a) last in window = 4.0@3600000; (up,b)'s 8.0@7200000 is
    // beyond the shifted instant, so its last is 2.0@0
    val got = evalQ("""sum by (user) ({name="up"} offset 1d)""")
      .as[(String, Double)].collect().toMap
    assert(got === Map("a" -> 4.0, "b" -> 2.0))
  }

  test("binary/set operator grammar parses with on(...) match specs") {
    assert(parse("""{a="1"} / on(user) {b="2"}""") ===
      BinOp("/", Seq("user"),
        Selector(Seq(Matcher.Eq("a", "1")), None, 0L),
        Selector(Seq(Matcher.Eq("b", "2")), None, 0L)))
    assert(parse("""{a="1"} unless on(user, k) {b="2"}""") ===
      SetOp("unless", Seq("user", "k"),
        Selector(Seq(Matcher.Eq("a", "1")), None, 0L),
        Selector(Seq(Matcher.Eq("b", "2")), None, 0L)))
    assert(parse("""{a="1"} > 50""") ===
      BinOp(">", Nil, Selector(Seq(Matcher.Eq("a", "1")), None, 0L),
        ScalarLit(50.0)))
    // no on(...) = PromQL default matching (all shared labels)
    assert(parse("""{a="1"} and {b="2"}""") ===
      SetOp("and", Nil,
        Selector(Seq(Matcher.Eq("a", "1")), None, 0L),
        Selector(Seq(Matcher.Eq("b", "2")), None, 0L)))
    assert(parse("""{a="1"} * on(user) group_left {b="2"}""") ===
      BinOp("*", Seq("user"),
        Selector(Seq(Matcher.Eq("a", "1")), None, 0L),
        Selector(Seq(Matcher.Eq("b", "2")), None, 0L),
        bool = false, card = "left"))
  }

  test("default vector matching ≡ explicit on(all shared labels)") {
    val got = evalQ("""sum by (user) ({name="up"}) / sum by (user) ({name="up"})""")
      .as[(String, Double)].collect().toMap
    assert(got === Map("a" -> 1.0, "b" -> 1.0))
    // selector-level default match: full label sets must be identical
    // (name differs between up and down ⇒ no pairs survive)
    assert(evalQ("""{name="up"} + {name="down"}""").count() === 0L)
    // identical selectors pair with themselves on (name, user)
    val self = evalQ("""{name="up"} + {name="up"}""")
      .select(col("user"), col("value")).as[(String, Double)].collect().toMap
    assert(self === Map("a" -> 18.0, "b" -> 16.0))
  }

  test("group_left joins many left series to one right partner") {
    // left: per-(user) up sums {a→9, b→8}; right: per-() … use q29's
    // shape at spec scale: (user) many side × (global) one side needs a
    // shared key, so match per-user and keep the left label set
    val got = evalQ(
      """{name="up"} * on(user) group_left sum by (user) ({name="up"})""")
      .select(col("`labels.user`"), col("value")).as[(String, Double)].collect().toMap
    assert(got === Map("a" -> 81.0, "b" -> 64.0))
    val right = evalQ(
      """sum by (user) ({name="up"}) * on(user) group_right {name="up"}""")
      .select(col("`labels.user`"), col("value")).as[(String, Double)].collect().toMap
    assert(right === Map("a" -> 81.0, "b" -> 64.0))
  }

  test("ignoring(...) narrows default matching; group_left(lbl) copies") {
    // grammar: ignoring is the complement of on; group_left takes an
    // optional parenthesized label list to copy from the one side
    assert(parse("""{a="1"} / ignoring(k) group_left(name) {b="2"}""") ===
      BinOp("/", Nil,
        Selector(Seq(Matcher.Eq("a", "1")), None, 0L),
        Selector(Seq(Matcher.Eq("b", "2")), None, 0L),
        bool = false, card = "left", ignoring = Seq("k"),
        carry = Seq("name")))
    // the `group_left (rhs)` ambiguity backtracks when the parens hold
    // anything but bare idents (Prometheus's grammar shares this wart)
    assert(parse("""{a="1"} * on(user) group_left ({b="2"})""") ===
      BinOp("*", Seq("user"),
        Selector(Seq(Matcher.Eq("a", "1")), None, 0L),
        Selector(Seq(Matcher.Eq("b", "2")), None, 0L),
        bool = false, card = "left"))
    // ignoring(name) ≡ on(user) over this fixture's (name, user) set
    val got = evalQ("""{name="up"} + ignoring(name) {name="up"}""")
      .select(col("user"), col("value")).as[(String, Double)].collect().toMap
    assert(got === Map("a" -> 18.0, "b" -> 16.0))
    // set ops accept ignoring too
    assert(evalQ("""{name="up"} and ignoring(name) {name="up"}""").count()
      === 2L)
    // carry: the one side's `name` label lands on the output (bare,
    // aggregation-output convention), replacing the many side's
    val carried = evalQ(
      """{name="up"} * on(user) group_left(name) sum by (user, name) ({name="up"})""")
    assert(carried.columns.toSet === Set("labels.user", "name", "value"))
    val m = carried.select(col("`labels.user`"), col("name"), col("value"))
      .as[(String, String, Double)].collect().toSet
    assert(m === Set(("a", "up", 81.0), ("b", "up", 64.0)))
  }

  test("timestamp/wall-clock/round/log/sort instant functions") {
    def m(q: String): Map[String, Double] =
      evalQ(q).select(col("`labels.user`"), col("value"))
        .as[(String, Double)].collect().toMap
    // timestamp(): value ← sample epoch seconds (a=86400s, b=7200s)
    assert(m("""timestamp({name="up"})""") ===
      Map("a" -> 86400.0, "b" -> 7200.0))
    // hour of those instants, UTC: 86400s = 00:00 day 2; 7200s = 02:00
    assert(m("""hour(timestamp({name="up"}))""") ===
      Map("a" -> 0.0, "b" -> 2.0))
    // Jan 2 1970 = Friday (5), Jan 1 = Thursday (4); 0 = Sunday
    assert(m("""day_of_week(timestamp({name="up"}))""") ===
      Map("a" -> 5.0, "b" -> 4.0))
    assert(m("""days_in_month(timestamp({name="up"}))""") ===
      Map("a" -> 31.0, "b" -> 31.0))
    // a's last sample sits on Jan 2 1970, b's on Jan 1
    assert(m("""day_of_year(timestamp({name="up"}))""") ===
      Map("a" -> 2.0, "b" -> 1.0))
    assert(m("""year(timestamp({name="up"}))""") ===
      Map("a" -> 1970.0, "b" -> 1970.0))
    // round to the nearest 0.5 multiple, ties UP: 2.25 → 2.5
    assert(m("""round({name="up"} / 4, 0.5)""") ===
      Map("a" -> 2.5, "b" -> 2.0))
    // default to=1
    assert(m("""round({name="up"} / 4)""") === Map("a" -> 2.0, "b" -> 2.0))
    // log2/log10 on exact powers (9·0+8, 8·0+8 → 8; +92 → 100)
    assert(m("""log2({name="up"} * 0 + 8)""") === Map("a" -> 3.0, "b" -> 3.0))
    assert(m("""log10({name="up"} * 0 + 100)""") ===
      Map("a" -> 2.0, "b" -> 2.0))
    // sort/sort_desc order rows by value (presentation)
    assert(evalQ("""sort_desc({name="up"})""")
      .select(col("value")).as[Double].collect().toSeq === Seq(9.0, 8.0))
    assert(evalQ("""sort({name="up"})""")
      .select(col("value")).as[Double].collect().toSeq === Seq(8.0, 9.0))
  }

  test("quantile(φ, v) and group aggregators") {
    assert(parse("""quantile by (user) (0.9, {name="up"})""") ===
      AggBy("quantile", Seq("user"),
        Selector(Seq(Matcher.Eq("name", "up")), None, 0L), Some(0.9)))
    assert(parse("""group by (name) ({name="up"})""") ===
      AggBy("group", Seq("name"),
        Selector(Seq(Matcher.Eq("name", "up")), None, 0L)))
    // interpolated median of the up vector {9, 8} = 8.5
    val med = evalQ("""quantile(0.5, {name="up"})""")
      .select(col("value")).as[Double].collect().toSeq
    assert(med === Seq(8.5))
    // group: value 1 per output group
    val g = evalQ("""group by (name) ({name="up"})""")
      .select(col("name"), col("value")).as[(String, Double)].collect().toSet
    assert(g === Set(("up", 1.0)))
    // quantile without its φ parameter is a parse error (number first)
    intercept[ParseError](parse("""quantile({name="up"})"""))
  }

  test("subqueries: expr[range:step] parses and folds over the grid") {
    // grammar: selector subquery, fn-result subquery (postfix), offset
    assert(parse("""{name="up"}[1d:1h]""") ===
      Subquery(Selector(Seq(Matcher.Eq("name", "up")), None, 0L),
        86400000L, 3600000L))
    assert(parse("""rate({name="up"}[1h])[1d:6h] offset 30s""") ===
      Subquery(Fn("rate",
        Selector(Seq(Matcher.Eq("name", "up")), Some(3600000L), 0L), Nil),
        86400000L, 21600000L, 30000L))
    // max_over_time over a subquery ≡ max over the per-step instant
    // vectors. [1d:5h] at At=25h: absolute-aligned grid t ∈ {5h, 10h,
    // 15h, 20h, 25h} (first multiple of 5h ≥ At−1d = 1h). Series a
    // (samples 0h→1, 1h→4, 24h→9, 1d staleness): t=5h..20h see 4.0;
    // t=25h sees 9.0 (the 0h/1h samples have gone stale there).
    val mx = evalQ("""max_over_time({name="up"}[1d:5h])""")
      .select(col("`labels.user`"), col("value"))
      .as[(String, Double)].collect().toMap
    assert(mx === Map("a" -> 9.0, "b" -> 8.0))
    // count_over_time counts grid points where the series is live
    val ct = evalQ("""count_over_time({name="up"}[1d:5h])""")
      .select(col("`labels.user`"), col("value"))
      .as[(String, Double)].collect().toMap
    assert(ct === Map("a" -> 5.0, "b" -> 5.0))
    // inner aggregation: sum by (user) per step, then avg over steps:
    // a = (4+4+4+4+9)/5 = 5.0, b = 8.0 at every step
    val av = evalQ("""avg_over_time(sum by (user) ({name="up"})[1d:5h])""")
      .select(col("user"), col("value")).as[(String, Double)].collect().toMap
    assert(av === Map("a" -> 5.0, "b" -> 8.0))
    // a bare subquery is not a query
    intercept[IllegalArgumentException](evalQ("""{name="up"}[1d:7h]"""))
  }

  test("time(), vector() and absent_over_time") {
    assert(parse("time()") === TimeLit)
    assert(parse("vector(1)") === Fn("vector", ScalarLit(1.0), Nil))
    // time() is the evaluation instant in seconds (At = 90000000 ms)
    val t = evalQ("""{name="up"} * time()""")
      .select(col("`labels.user`"), col("value"))
      .as[(String, Double)].collect().toMap
    assert(t === Map("a" -> 810000.0, "b" -> 720000.0))
    // vector(s): the one-element no-label vector
    assert(evalQ("vector(42)").select(col("value")).as[Double]
      .collect().toSeq === Seq(42.0))
    // no-label vectors match each other under default matching
    assert(evalQ("""sum({name="up"}) - vector(time())""")
      .select(col("value")).as[Double].collect().toSeq === Seq(-89983.0))
    // absent_over_time: one sample iff the selector matched nothing
    // in-window, carrying the Eq-matcher labels
    val ab = evalQ("""absent_over_time({name="nosuch"}[1d])""")
    assert(ab.columns.toSeq === Seq("time", "name", "value"))
    assert(ab.collect().map(_.toSeq).toSeq === Seq(Seq(At, "nosuch", 1.0)))
    assert(evalQ("""absent_over_time({name="up"}[1d])""").count() === 0L)
    // range mode: time() is the per-step grid time
    val rt = evalRange(parse("""{name="up"} * time()"""), wide,
      start = 0L, end = 86400000L, stepMs = 86400000L,
      lookbackMs = 86400000L)
      .select(col("`labels.user`"), col("t"), col("value"))
      .as[(String, Long, Double)].collect().toSet
    // t=0: a→1·0=0, b→2·0=0; t=86400000: a→9·86400=777600, b→8·86400
    assert(rt === Set(("a", 0L, 0.0), ("b", 0L, 0.0),
      ("a", 86400000L, 777600.0), ("b", 86400000L, 691200.0)))
  }

  test("duplicate offset/@ modifiers are parse errors (as in Prometheus)") {
    intercept[ParseError](parse("""{name="up"} offset 5m offset 3m"""))
    intercept[ParseError](parse("""{name="up"} @ 100 @ 200"""))
    intercept[ParseError](parse("""rate({name="up"}[5m] offset 5m offset 3m)"""))
    // one of each still composes, in either order
    assert(parse("""{name="up"} offset 5m @ 100""") ===
      parse("""{name="up"} @ 100 offset 5m"""))
  }

  test("without(...) groups bare label columns (aggregation outputs)") {
    // sum by (user) emits a bare `user` column; an outer without-form
    // aggregation must group by it, not silently collapse the series
    val w = evalQ("""sum without (nosuch) (sum by (user) ({name="up"}))""")
    assert(w.columns.contains("user"))
    assert(w.select(col("user"), col("value")).as[(String, Double)]
      .collect().toSet === Set(("a", 9.0), ("b", 8.0)))
    // a bare column listed in without() is dropped
    val g = evalQ("""sum without (user) (sum by (user) ({name="up"}))""")
    assert(!g.columns.contains("user"))
    assert(g.select(col("value")).as[Double].collect().toSeq === Seq(17.0))
  }

  test("wall-clock family: UTC epoch arithmetic, session-TZ independent") {
    import java.time.{Instant, ZoneOffset}
    // epoch day 0, 2000-02-29 (leap), end of 2000-02-29, 2100-03-01
    // (2100 is NOT leap), a 2023 instant
    val secs = Seq(0L, 951782400L, 951868799L, 4108838400L, 1692403199L)
    for (s <- secs) {
      val dt = Instant.ofEpochSecond(s).atZone(ZoneOffset.UTC)
      def f(fn: String): Double =
        evalQ(s"$fn(vector($s))").select(col("value")).as[Double].head()
      assert(f("hour") === dt.getHour.toDouble, s"hour($s)")
      assert(f("minute") === dt.getMinute.toDouble, s"minute($s)")
      assert(f("day_of_week") === (dt.getDayOfWeek.getValue % 7).toDouble, s"dow($s)")
      assert(f("day_of_month") === dt.getDayOfMonth.toDouble, s"dom($s)")
      assert(f("day_of_year") === dt.getDayOfYear.toDouble, s"doy($s)")
      assert(f("days_in_month") === dt.toLocalDate.lengthOfMonth.toDouble, s"dim($s)")
      assert(f("month") === dt.getMonthValue.toDouble, s"month($s)")
      assert(f("year") === dt.getYear.toDouble, s"year($s)")
    }
    // the UTC contract survives a non-UTC session timezone
    val tz = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      assert(evalQ("hour(vector(3600))").select(col("value"))
        .as[Double].head() === 1.0)
      assert(evalQ("day_of_month(vector(0))").select(col("value"))
        .as[Double].head() === 1.0)
    } finally spark.conf.set("spark.sql.session.timeZone", tz)
  }

  test("absent() synthesizes labels from Eq matchers (createLabelsForAbsentFunction)") {
    def rangeQ(q: String) =
      PromQL.evalRange(parse(q), wide, start = 0L, end = 86400000L,
        stepMs = 43200000L, lookbackMs = 86400000L)
    // Eq matchers become literal labels on the fired sample
    val ab = evalQ("""absent({name="nope",user="x"})""")
    assert(ab.columns.toSeq === Seq("time", "name", "user", "value"))
    assert(ab.collect().map(_.toSeq).toSeq === Seq(Seq(At, "nope", "x", 1.0)))
    // non-Eq matchers contribute nothing; a non-Eq on an Eq-set name
    // removes it (Prometheus's backwards-compat `has` rule)
    assert(evalQ("""absent({name="nope",user=~"x.*"})""").columns.toSeq ===
      Seq("time", "name", "value"))
    assert(evalQ("""absent({name="nope",user="x",user!="y"})""")
      .columns.toSeq === Seq("time", "name", "value"))
    // duplicate Eq on one name drops the name entirely
    assert(evalQ("""absent({name="nope",user="x",user="y"})""")
      .columns.toSeq === Seq("time", "name", "value"))
    // empty-value Eq synthesizes nothing
    assert(evalQ("""absent({name="nope",user=""})""").columns.toSeq ===
      Seq("time", "name", "value"))
    // non-selector argument: no labels (Prometheus returns empty labels)
    assert(evalQ("""absent(sum({name="nope"}))""").columns.toSeq ===
      Seq("time", "value"))
    // range mode carries the labels per fired step
    assert(rangeQ("""absent({name="nope",user="x"})""")
      .select(col("t"), col("name"), col("user"), col("value"))
      .as[(Long, String, String, Double)].collect().toSet ===
      Set((0L, "nope", "x", 1.0), (43200000L, "nope", "x", 1.0),
        (86400000L, "nope", "x", 1.0)))
  }

  test("scalar(): data-dependent scalar, NaN unless exactly one element") {
    // sum() collapses to one element → its value
    assert(evalQ("""{name="up"} / scalar(sum({name="up"}))""")
      .select(col("`labels.user`"), col("value"))
      .as[(String, Double)].collect().toMap ===
      Map("a" -> 9.0 / 17.0, "b" -> 8.0 / 17.0).map {
        case (k, v) => k -> math.rint(v * 1e6) / 1e6 })
    // two elements → NaN; arithmetic with NaN stays NaN (rows kept)
    val nan = evalQ("""{name="up"} * scalar({name="up"})""")
      .select(col("value")).as[Double].collect()
    assert(nan.length === 2 && nan.forall(_.isNaN))
    // empty vector → NaN
    val e = evalQ("""{name="up"} * scalar({name="nosuch"})""")
      .select(col("value")).as[Double].collect()
    assert(e.length === 2 && e.forall(_.isNaN))
    // comparison against a NaN scalar filters everything (IEEE)
    assert(evalQ("""{name="up"} > scalar({name="up"})""").count() === 0L)
    // standalone and vector(scalar(v)) forms
    assert(evalQ("""scalar(sum({name="up"}))""")
      .select(col("value")).as[Double].collect().toSeq === Seq(17.0))
    assert(evalQ("""vector(scalar(sum({name="up"})))""")
      .select(col("value")).as[Double].collect().toSeq === Seq(17.0))
    // vector() admits the whole scalar GRAMMAR, not just bare forms —
    // arithmetic over scalar()/numbers/time() is scalar-typed
    assert(evalQ("""vector(scalar(sum({name="up"})) * 2 + 1)""")
      .select(col("value")).as[Double].collect().toSeq === Seq(35.0))
    assert(evalRange(parse("""vector(scalar(sum({name="up"})) * 2 + 1)"""),
      wide, start = 0L, end = 86400000L, stepMs = 86400000L,
      lookbackMs = 86400000L)
      // t=0: sum 3 → 7; t=1d: sum 17 → 35
      .select(col("value")).as[Double].collect().toSet === Set(7.0, 35.0))
    // range mode: per-step scalar joins on t
    val rt = evalRange(parse(
      """{name="up"} / scalar(sum({name="up"}))"""), wide,
      start = 0L, end = 86400000L, stepMs = 86400000L,
      lookbackMs = 86400000L)
      .select(col("`labels.user`"), col("t"), col("value"))
      .as[(String, Long, Double)].collect().toSet
    // t=0: values 1,2 sum 3 → 1/3, 2/3; t=1d: values 9,8 sum 17
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    assert(rt === Set(("a", 0L, r6(1.0 / 3)), ("b", 0L, r6(2.0 / 3)),
      ("a", 86400000L, r6(9.0 / 17)), ("b", 86400000L, r6(8.0 / 17))))
  }

  test("trigonometry group, deg/rad, pi()") {
    def m(q: String): Map[String, Double] =
      evalQ(q).select(col("`labels.user`"), col("value"))
        .as[(String, Double)].collect().toMap
    // exact points: v·0 → sin 0 / cos 1; +1 → sinh/cosh/tanh of 1
    assert(m("""sin({name="up"} * 0)""") === Map("a" -> 0.0, "b" -> 0.0))
    assert(m("""cos({name="up"} * 0)""") === Map("a" -> 1.0, "b" -> 1.0))
    assert(m("""atan({name="up"} * 0)""") === Map("a" -> 0.0, "b" -> 0.0))
    assert(m("""tanh({name="up"} * 0 + 1)""") ===
      Map("a" -> 0.761594, "b" -> 0.761594))
    // deg/rad: 180° = π rad; round-to-6 applied like the other fns
    assert(m("""rad({name="up"} * 0 + 180)""") ===
      Map("a" -> 3.141593, "b" -> 3.141593))
    assert(m("""deg({name="up"} * 0 + 1)""") ===
      Map("a" -> 57.29578, "b" -> 57.29578))
    // pi() is a scalar literal; asin(sin) identity at exact 0
    assert(parse("pi()") === ScalarLit(math.Pi))
    assert(fold(parse("pi() / pi()")) === ScalarLit(1.0))
    assert(m("""asin(sin({name="up"} * 0))""") ===
      Map("a" -> 0.0, "b" -> 0.0))
  }

  test("atan2 keyword operator at the */% precedence level") {
    val a = Selector(Seq(Matcher.Eq("__name__", "a")), None, 0L)
    val b = Selector(Seq(Matcher.Eq("__name__", "b")), None, 0L)
    val c = Selector(Seq(Matcher.Eq("__name__", "c")), None, 0L)
    // binds tighter than +, like * and /
    assert(parse("a + b atan2 c") ===
      BinOp("+", Nil, a, BinOp("atan2", Nil, b, c)))
    assert(fold(parse("1 atan2 0")) === ScalarLit(math.atan2(1.0, 0.0)))
    assert(fold(parse("0 atan2 1")) === ScalarLit(0.0))
    // vector atan2 scalar: atan2(1, 1) = π/4 (rounded to 6 like arith)
    val v = evalQ("""({name="up"} * 0 + 1) atan2 1""")
      .select(col("`labels.user`"), col("value"))
      .as[(String, Double)].collect().toMap
    assert(v === Map("a" -> 0.785398, "b" -> 0.785398))
    // vector-vector with matching
    val vv = evalQ(
      """({name="up"} * 0 + 1) atan2 on(user) ({name="up"} * 0)""")
      .select(col("user"), col("value")).as[(String, Double)]
      .collect().toMap
    assert(vv === Map("a" -> 1.570796, "b" -> 1.570796))
  }

  test("@ modifier pins instant selectors to an anchor") {
    assert(parse("""{name="up"} @ 90000""") ===
      Selector(Seq(Matcher.Eq("name", "up")), None, 0L,
        Some(AtMs(90000000L))))
    assert(parse("""{name="up"} @ start() offset 1h""") ===
      Selector(Seq(Matcher.Eq("name", "up")), None, 3600000L,
        Some(AtStart)))
    assert(parse("""{name="up"} offset 1h @ end()""") ===
      Selector(Seq(Matcher.Eq("name", "up")), None, 3600000L,
        Some(AtEnd)))
    // literal anchor ≡ evaluating at that instant: @ 7200 (2h) sees
    // a→4 (1h sample), b→8 (2h sample)
    val pinned = evalQ("""{name="up"} @ 7200""")
      .select(col("`labels.user`"), col("value"))
      .as[(String, Double)].collect().toMap
    assert(pinned === Map("a" -> 4.0, "b" -> 8.0))
    // the pinned-reference ratio idiom: current / value-as-of-2h
    // (default matching projects the bare match-key columns)
    val ratio = evalQ("""{name="up"} / {name="up"} @ 7200""")
      .select(col("user"), col("value"))
      .as[(String, Double)].collect().toMap
    assert(ratio === Map("a" -> 2.25, "b" -> 1.0))
    // end() resolves to the query range end (100000000): only series a
    // has a sample inside that instant's 1d lookback window
    assert(evalQ("""{name="up"} @ end()""").count() === 1L)
    // range mode: the pinned vector is constant across the grid
    val rt = evalRange(parse("""{name="up"} @ 7200"""), wide,
      start = 0L, end = 86400000L, stepMs = 86400000L,
      lookbackMs = 86400000L)
      .select(col("`labels.user`"), col("t"), col("value"))
      .as[(String, Long, Double)].collect().toSet
    assert(rt === Set(("a", 0L, 4.0), ("b", 0L, 8.0),
      ("a", 86400000L, 4.0), ("b", 86400000L, 8.0)))
  }

  test("rate family over subqueries folds the grid axis") {
    // grid at At: 5h-aligned points {5h..25h} → inner instant values
    // a: 4,4,4,4,9 and b: 8,8,8,8,8; every grid point is in-window
    def m(q: String) = evalQ(q)
      .select(col("`labels.user`"), col("value"))
      .as[(String, Double)].collect().toMap
    assert(m("""increase({name="up"}[1d:5h])""") ===
      Map("a" -> 5.0, "b" -> 0.0))
    assert(m("""changes({name="up"}[1d:5h])""") ===
      Map("a" -> 1.0, "b" -> 0.0))
    assert(m("""idelta({name="up"}[1d:5h])""") ===
      Map("a" -> 5.0, "b" -> 0.0))
    // irate: the LAST grid pair (4→9 over the 5h gap)
    assert(m("""irate({name="up"}[1d:5h])""") ===
      Map("a" -> 0.000278, "b" -> 0.0))
    // least-squares slope over the 5 grid points
    assert(m("""deriv({name="up"}[1d:5h])""") ===
      Map("a" -> 0.000056, "b" -> 0.0))
    // the smoothing fold over the sorted grid values
    assert(m("""holt_winters({name="up"}[1d:5h], 0.5, 0.3)""") ===
      Map("a" -> 6.5, "b" -> 8.0))
    // holt_winters as the INNER expression re-projects hw → value:
    // per-u 1d windows give a ∈ {4,...}, b ∈ {8,...} (u=25h drops,
    // single sample); max over the grid
    assert(m("""max_over_time(holt_winters({name="up"}[1d], 0.5, 0.3)[1d:5h])""") ===
      Map("a" -> 4.0, "b" -> 8.0))
    // @-pinned: the [7200s−1d, 7200s] grid has ONE live point → no
    // pairs → every series drops (PromQL's two-point rule)
    assert(evalQ("""increase({name="up"}[1d:5h] @ 7200)""").count() === 0L)
    // range mode: inner-pair fan-out — pairs land on the outer steps
    // whose LEFT-OPEN (t−1d, t] window contains BOTH endpoints; t=0
    // covers only the u=0 inner point (no pair) and drops out, and at
    // t=1d the u=0 point is EXCLUDED (left-open), leaving the flat
    // points 5h..20h — increase/changes 0
    def rm(q: String) = evalRange(parse(q), wide, start = 0L,
      end = 86400000L, stepMs = 43200000L, lookbackMs = 86400000L)
      .select(col("`labels.user`"), col("t"), col("value"))
      .as[(String, Long, Double)].collect().toSet
    assert(rm("""increase({name="up"}[1d:5h])""") === Set(
      ("a", 43200000L, 3.0), ("b", 43200000L, 6.0),
      ("a", 86400000L, 0.0), ("b", 86400000L, 0.0)))
    assert(rm("""changes({name="up"}[1d:5h])""") === Set(
      ("a", 43200000L, 1.0), ("b", 43200000L, 1.0),
      ("a", 86400000L, 0.0), ("b", 86400000L, 0.0)))
  }

  test("@ modifier pins subqueries to an anchor") {
    assert(parse("""{name="up"}[1d:1h] @ 7200""") ===
      Subquery(Selector(Seq(Matcher.Eq("name", "up")), None, 0L),
        86400000L, 3600000L, 0L, Some(AtMs(7200000L))))
    assert(parse("""(sum({name="up"}))[1d:5h] offset 30s @ end()""") ===
      Subquery(AggBy("sum", Nil,
        Selector(Seq(Matcher.Eq("name", "up")), None, 0L)),
        86400000L, 18000000L, 30000L, Some(AtEnd)))
    // @ 7200 pins the inner grid to [7200s−1d, 7200s]: the only live
    // 5h-aligned point is u=0 (a→1, b→2) — the evaluation instant At
    // plays no part
    val mx = evalQ("""max_over_time({name="up"}[1d:5h] @ 7200)""")
      .select(col("`labels.user`"), col("value"))
      .as[(String, Double)].collect().toMap
    assert(mx === Map("a" -> 1.0, "b" -> 2.0))
    // anchoring at the evaluation instant ≡ no anchor
    val un = evalQ("""max_over_time({name="up"}[1d:5h])""")
      .select(col("`labels.user`"), col("value"))
      .as[(String, Double)].collect().toMap
    val at = evalQ("""max_over_time({name="up"}[1d:5h] @ 90000)""")
      .select(col("`labels.user`"), col("value"))
      .as[(String, Double)].collect().toMap
    assert(at === un)
    // range mode: the pinned subquery is constant across the grid
    val rt = evalRange(
      parse("""max_over_time({name="up"}[1d:5h] @ 7200)"""), wide,
      start = 0L, end = 86400000L, stepMs = 86400000L,
      lookbackMs = 86400000L)
      .select(col("`labels.user`"), col("t"), col("value"))
      .as[(String, Long, Double)].collect().toSet
    assert(rt === Set(("a", 0L, 1.0), ("a", 86400000L, 1.0),
      ("b", 0L, 2.0), ("b", 86400000L, 2.0)))
  }

  test("@ modifier pins range selectors to an anchor") {
    // parse: @ composes after the range bracket
    assert(parse("""rate({name="up"}[1h] @ 7200)""") ===
      Fn("rate", Selector(Seq(Matcher.Eq("name", "up")), Some(3600000L),
        0L, Some(AtMs(7200000L))), Nil))
    // sum_over_time over the pinned window (0, 2h]: a→4 (1h), b→8 (2h)
    val s = evalQ("""sum_over_time({name="up"}[2h] @ 7200)""")
      .select(col("`labels.user`"), col("value"))
      .as[(String, Double)].collect().toMap
    assert(s === Map("a" -> 4.0, "b" -> 8.0))
    // increase over (end()−2d, end()]: reset-adjusted consecutive
    // deltas — a: 3+5, b: 6
    val inc = evalQ("""increase({name="up"}[2d] @ end())""")
      .select(col("`labels.user`"), col("value"))
      .as[(String, Double)].collect().toMap
    assert(inc === Map("a" -> 8.0, "b" -> 6.0))
    // the pinned result is a plain instant vector — aggregates compose
    assert(evalQ("""sum(increase({name="up"}[2d] @ end()))""")
      .select(col("value")).as[Double].collect().toSeq === Seq(14.0))
    // range mode: the pinned window is constant across the grid
    val rt = evalRange(parse("""increase({name="up"}[2d] @ end())"""),
      wide, start = 0L, end = 86400000L, stepMs = 86400000L,
      lookbackMs = 86400000L)
      .select(col("`labels.user`"), col("t"), col("value"))
      .as[(String, Long, Double)].collect().toSet
    assert(rt === Set(("a", 0L, 8.0), ("a", 86400000L, 8.0),
      ("b", 0L, 6.0), ("b", 86400000L, 6.0)))
  }

  test("multi-stat kernel frames coerce to value when composed") {
    // rate's tumbling report frame (n/increase/span_sec/rate_v)
    // projects rate_v as `value` at every composition site — the
    // Prometheus shapes sum(rate(...)), abs(rate(...)), rate > bool s.
    // Single-sample buckets rate NULL (observed span 0) and stay NULL
    // through the aggregation.
    val s = evalQ("""sum by (user) (rate({name="up"}[1d]))""")
      .select(col("user"), col("bucket"), col("value"))
      .as[(String, Long, Option[Double])].collect().toSet
    assert(s === Set(("a", 0L, Some(0.000833)), ("b", 0L, Some(0.000833)),
      ("a", 86400000L, None)))
    val b = evalQ("""rate({name="up"}[1d]) > bool 0.0005""")
      .select(col("`labels.user`"), col("bucket"), col("value"))
      .as[(String, Long, Double)].collect().toSet
    assert(b === Set(("a", 0L, 1.0), ("b", 0L, 1.0), ("a", 86400000L, 0.0)))
    // vector-vector between two coerced frames matches per bucket
    val r = evalQ("""rate({name="up"}[1d]) / on(user) rate({name="up"}[1d])""")
      .select(col("user"), col("value"))
      .as[(String, Option[Double])].collect().toSet
    assert(r === Set(("a", Some(1.0)), ("b", Some(1.0)), ("a", None)))
  }

  test("grouping by non-existent or aggregated labels resolves NULL-safely") {
    // `by` on a label no series carries: legal PromQL — one group with
    // the label absent (NULL), like Prometheus's empty-label grouping
    val g = evalQ("""sum by (nope) ({name="up"})""")
      .select(col("nope"), col("value"))
      .as[(String, Double)].collect().toSeq
    assert(g === Seq((null, 17.0)))
    // re-aggregating an aggregated vector: the key is the BARE output
    // column of the inner agg, not a labels.* column
    val re = evalQ("""max by (user) (sum by (user) ({name="up"}))""")
      .select(col("user"), col("value"))
      .as[(String, Double)].collect().toMap
    assert(re === Map("a" -> 9.0, "b" -> 8.0))
  }

  test("subquery default step [1h:] = the 1m evaluation interval") {
    assert(parse("""{name="up"}[1h:]""") ===
      Subquery(Selector(Seq(Matcher.Eq("name", "up")), None, 0L),
        3600000L, 60000L))
    // postfix form too: (expr)[1d:]
    assert(parse("""(sum({name="up"}))[1d:]""") ===
      Subquery(AggBy("sum", Nil,
        Selector(Seq(Matcher.Eq("name", "up")), None, 0L)),
        86400000L, 60000L))
    // 60 absolute-aligned minutes in the LEFT-OPEN (At−1h, At]; both
    // series are live at every one of them (last samples within the 1d
    // lookback)
    val ct = evalQ("""count_over_time({name="up"}[1h:])""")
      .select(col("`labels.user`"), col("value"))
      .as[(String, Double)].collect().toMap
    assert(ct === Map("a" -> 60.0, "b" -> 60.0))
  }

  test("evalRange: subqueries fan inner grid points to outer steps") {
    def rq(q: String) = evalRange(parse(q), wide, start = 0L,
      end = 86400000L, stepMs = 43200000L, lookbackMs = 86400000L)
    // max_over_time(m[1d:5h]): the inner instant vectors evaluate ONCE
    // on the absolute 5h-aligned covering grid; each outer step t folds
    // the inner points in [t−1d, t]
    val mx = rq("""max_over_time({name="up"}[1d:5h])""")
      .select(col("`labels.user`"), col("t"), col("value"))
      .as[(String, Long, Double)].collect().toSet
    assert(mx === Set(
      ("a", 0L, 1.0), ("b", 0L, 2.0),
      ("a", 43200000L, 4.0), ("b", 43200000L, 8.0),
      ("a", 86400000L, 4.0), ("b", 86400000L, 8.0)))
    // inner aggregation: sum by (user) per inner point, then the
    // window fold sums the points each LEFT-OPEN outer window covers
    // (at t=1d the u=0 point sits exactly at t−range and is excluded)
    val sm = rq("""sum_over_time(sum by (user) ({name="up"})[1d:12h])""")
      .select(col("user"), col("t"), col("value"))
      .as[(String, Long, Double)].collect().toSet
    assert(sm === Set(
      ("a", 0L, 1.0), ("b", 0L, 2.0),
      ("a", 43200000L, 5.0), ("b", 43200000L, 10.0),
      ("a", 86400000L, 13.0), ("b", 86400000L, 16.0)))
    // rate under a subquery: the multi-stat frame re-projects to value;
    // outer steps whose windows cover no inner point drop out (t=0)
    val rr = rq("""max_over_time(rate({name="up"}[1d])[1d:12h])""")
      .select(col("`labels.user`"), col("t"), col("value"))
      .as[(String, Long, Double)].collect().toSet
    assert(rr === Set(
      ("a", 43200000L, 0.000833), ("b", 43200000L, 0.000833),
      ("a", 86400000L, 0.000833), ("b", 86400000L, 0.000833)))
    // a bare subquery is still not a query in range mode
    intercept[IllegalArgumentException](rq("""{name="up"}[1d:5h]"""))
  }

  test("argless clock fns default to vector(time()); holt_winters alias") {
    // hour() ≡ hour(vector(time())) — Prometheus's implicit argument
    assert(parse("hour()") ===
      Fn("hour", Fn("vector", TimeLit, Nil), Nil))
    // At = 90000000 ms = 25h → 01:00 UTC on day 2
    assert(evalQ("hour()").select(col("value")).as[Double]
      .collect().toSeq === Seq(1.0))
    assert(evalQ("day_of_week()").select(col("value")).as[Double]
      .collect().toSeq === Seq(5.0)) // Jan 2 1970 = Friday
    // Prometheus 3 renamed holt_winters; both names evaluate identically
    assert(rows(evalQ(
      """double_exponential_smoothing({name="up"}[1d], 0.5, 0.3)""")) ===
      rows(evalQ("""holt_winters({name="up"}[1d], 0.5, 0.3)""")))
  }

  test("evalRange: sliding holt_winters folds each overlapping window") {
    val rt = evalRange(parse("""holt_winters({name="up"}[1d], 0.5, 0.3)"""),
      wide, start = 0L, end = 86400000L, stepMs = 86400000L,
      lookbackMs = 86400000L)
      .select(col("`labels.user`"), col("t"), col("n"), col("hw"))
      .as[(String, Long, Long, Double)].collect().toSet
    // t=0 windows (−1d, 0] hold one sample each → dropped (PromQL needs
    // 2); t=1d: a sees (3.6e6→4, 86.4e6→9): level₀=4, trend₀=5, one
    // fold step on 9 → level 0.5·9 + 0.5·(4+5) = 9; b has one in-window
    // sample (time 0 is excluded by the exclusive lower bound) → dropped
    assert(rt === Set(("a", 86400000L, 2L, 9.0)))
  }

  test("bool comparisons emit 0/1; scalar-scalar ops constant-fold") {
    val b = evalQ("""{name="up"} > bool 8.5""")
      .select(col("`labels.user`"), col("value")).as[(String, Double)].collect().toMap
    assert(b === Map("a" -> 1.0, "b" -> 0.0))
    // scalar-scalar comparison folds on the driver (bool required, as
    // in Prometheus) and yields the scalar result type
    val r = evalQ("""1 >= bool 2""").collect()
    assert(r.length === 1 && r.head.getDouble(1) === 0.0)
    assert(evalQ("""(1 + 2) * 3""").head.getDouble(1) === 9.0)
    intercept[IllegalArgumentException](evalQ("""1 >= 2"""))
  }

  test("instant fns, without, label fns, count_values compile from text") {
    // value maps
    val clamped = evalQ("""clamp({name="up"}, 2, 8)""")
      .select(col("`labels.user`"), col("value"))
      .as[(String, Double)].collect().toMap
    assert(clamped === Map("a" -> 8.0, "b" -> 8.0)) // 9→8, 8 stays
    assert(evalQ("""abs({name="up"} - 10)""")
      .select(col("value")).as[Double].collect().toSet === Set(1.0, 2.0))
    // sum without (user): drop user, keep the rest of the label set
    val wo = evalQ("""sum without (user) ({name="up"})""")
      .select(col("`labels.name`"), col("value"))
      .as[(String, Double)].collect().toMap
    assert(wo === Map("up" -> 17.0)) // 9 + 8
    // label_replace materializes a derived label on the vector
    val lr = evalQ(
      """label_replace({name="up"}, "env", "prod-$1", "user", "(a)")""")
      .select(col("`labels.user`"), col("`labels.env`"))
      .as[(String, String)].collect().toMap
    assert(lr === Map("a" -> "prod-a", "b" -> null))
    // count_values bins the instant vector by rendered value
    val cv = evalQ("""count_values("v", {name="up"})""")
      .select(col("`labels.v`"), col("value"))
      .as[(String, Double)].collect().toMap
    assert(cv === Map("9" -> 1.0, "8" -> 1.0))
    // grouped count_values: the modifier labels join the bin grouping
    val cvb = evalQ("""count_values by (name) ("v", {name=~"up|down"})""")
      .select(col("name"), col("`labels.v`"), col("value"))
      .as[(String, String, Double)].collect().toSet
    assert(cvb === Set(("up", "9", 1.0), ("up", "8", 1.0)))
    assert(parse("""count_values without (user) ("v", {name="up"})""") ===
      CountValues("v", Selector(Seq(Matcher.Eq("name", "up")), None, 0L),
        Nil, Seq("user")))
    // a kept label colliding with the value label is OVERWRITTEN
    // (Prometheus semantics), never a duplicate output column
    val cvc = evalQ("""count_values without (user) ("name", {name="up"})""")
    assert(cvc.columns.count(_ == "labels.name") === 1)
    assert(cvc.select(col("`labels.name`"), col("value"))
      .as[(String, Double)].collect().toSet ===
      Set(("9", 1.0), ("8", 1.0)))
    // absent() emits the 1-vector exactly when nothing matches
    assert(evalQ("""absent({name="nope"})""").count() === 1L)
    assert(evalQ("""absent({name="up"})""").count() === 0L)
    // range mode: count_values bins per grid step (t joins the group)
    val cvr = PromQL.evalRange(
      parse("""count_values("v", {name="up"})"""), wide,
      start = 0L, end = 86400000L, stepMs = 86400000L,
      lookbackMs = 86400000L)
      .select(col("`labels.v`"), col("t"), col("value"))
      .as[(String, Long, Double)].collect().toSet
    assert(cvr === Set(("1", 0L, 1.0), ("2", 0L, 1.0),
      ("9", 86400000L, 1.0), ("8", 86400000L, 1.0)))
  }

  test("evalRange: binary ops and topk match per step") {
    def rangeQ(q: String) =
      PromQL.evalRange(parse(q), wide, start = 0L, end = 86400000L,
        stepMs = 43200000L, lookbackMs = 86400000L)
    // per-step self-ratio is 1.0 at every step the series exists
    val ratio = rangeQ(
      """sum by (user) ({name="up"}) / sum by (user) ({name="up"})""")
      .select(col("user"), col("t"), col("value"))
      .as[(String, Long, Double)].collect().toSet
    assert(ratio === Set(
      ("a", 0L, 1.0), ("b", 0L, 1.0),
      ("a", 43200000L, 1.0), ("b", 43200000L, 1.0),
      ("a", 86400000L, 1.0), ("b", 86400000L, 1.0)))
    // topk(1) ranks WITHIN each step: b leads at 0h (2>1) and 12h
    // (8>4), a overtakes at 24h (9>8) — a global top-k could never
    // produce this
    val top = rangeQ("""topk(1, {name="up"})""")
      .select(col("`labels.user`"), col("t"), col("value"))
      .as[(String, Long, Double)].collect().toSet
    assert(top === Set(
      ("b", 0L, 2.0), ("b", 43200000L, 8.0), ("a", 86400000L, 9.0)))
  }

  test("evalRange: per-step sliding windows (instant + rate)") {
    def rangeQ(q: String) =
      PromQL.evalRange(parse(q), wide, start = 0L, end = 86400000L,
        stepMs = 43200000L, lookbackMs = 86400000L)
    // grid t = 0h, 12h, 24h, each with its own (t-1d, t] lookback:
    // t=0h sees the 0h samples; t=12h the 1h/2h ones; t=24h's window
    // (0h, 24h] EXCLUDES the 0h samples (exclusive lower bound)
    val agg = rangeQ("""sum by (user) ({name="up"})""")
      .select(col("user"), col("t"), col("value"))
      .as[(String, Long, Double)].collect().toSet
    assert(agg === Set(
      ("a", 0L, 1.0), ("b", 0L, 2.0),
      ("a", 43200000L, 4.0), ("b", 43200000L, 8.0),
      ("a", 86400000L, 9.0), ("b", 86400000L, 8.0)))
    // sliding rate[1d] by 12h: t=12h covers a's (0h,1h] pair and b's
    // (0h,2h] pair; t=24h covers ONLY a's (1h,24h] pair — the 0h
    // samples fall out of (0h, 24h], so consecutive overlapping
    // windows see different pair sets (the tumbling path cannot
    // express this)
    val r = rangeQ("""rate({name="up"}[1d])""")
      .select(col("`labels.user`"), col("t"), col("increase"), col("n"))
      .as[(String, Long, Double, Long)].collect().toSet
    assert(r === Set(
      ("a", 43200000L, 3.0, 2L), ("b", 43200000L, 6.0, 2L),
      ("a", 86400000L, 5.0, 2L)))
    // per-step absent_over_time fires exactly at the steps whose
    // window (t−range, t] matched nothing: `down` exists only at 0h,
    // so [1h] fires at 12h/24h but not at 0h
    val ab = rangeQ("""absent_over_time({name="down"}[1h])""")
      .select(col("name"), col("t"), col("value"))
      .as[(String, Long, Double)].collect().toSet
    assert(ab === Set(("down", 43200000L, 1.0), ("down", 86400000L, 1.0)))
    // never-matching selector: every step fires, Eq labels synthesized
    assert(rangeQ("""absent_over_time({name="up",user="zzz"}[1d])""")
      .select(col("name"), col("user")).distinct().collect().map(_.toSeq)
      .toSeq === Seq(Seq("up", "zzz")))
    assert(rangeQ("""absent_over_time({name="up",user="zzz"}[1d])""")
      .count() === 3L)
    // present at every step ⇒ the empty vector
    assert(rangeQ("""absent_over_time({name="up"}[1d])""").count() === 0L)
    // offset shifts each window: (t−12h−1h, t−12h] sees down@0h at t=12h
    assert(rangeQ("""absent_over_time({name="down"}[1h] offset 12h)""")
      .select(col("t")).as[Long].collect().toSet ===
      Set(0L, 86400000L))
  }

  test("evalRange: sliding *_over_time / pair / regression battery") {
    def rangeQ(q: String) =
      PromQL.evalRange(parse(q), wide, start = 0L, end = 86400000L,
        stepMs = 43200000L, lookbackMs = 86400000L)
    def m(q: String) = rangeQ(q)
      .select(col("`labels.user`"), col("t"), col("value"))
      .as[(String, Long, Double)].collect().toSet
    // sliding max[1d] by 12h: t=24h's window (0h,24h] EXCLUDES the 0h
    // samples — overlapping windows see different sample sets
    assert(m("""max_over_time({name="up"}[1d])""") ===
      Set(("a", 0L, 1.0), ("b", 0L, 2.0),
        ("a", 43200000L, 4.0), ("b", 43200000L, 8.0),
        ("a", 86400000L, 9.0), ("b", 86400000L, 8.0)))
    // quantile_over_time(1.0, …) ≡ max_over_time
    assert(m("""quantile_over_time(1.0, {name="up"}[1d])""") ===
      m("""max_over_time({name="up"}[1d])"""))
    // changes: a pair is visible to the windows containing BOTH
    // endpoints — a's (0h,1h] pair covers only t=12h, its (1h,24h]
    // pair only t=24h
    assert(m("""changes({name="up"}[1d])""") ===
      Set(("a", 43200000L, 1.0), ("b", 43200000L, 1.0),
        ("a", 86400000L, 1.0)))
    // idelta: the LAST pair per window
    assert(m("""idelta({name="up"}[1d])""") ===
      Set(("a", 43200000L, 3.0), ("b", 43200000L, 6.0),
        ("a", 86400000L, 5.0)))
    // per-step absent: `up` is present at every step, `nope` at none
    assert(rangeQ("""absent({name="up"})""").count() === 0L)
    assert(rangeQ("""absent({name="nope"})""")
      .select(col("t"), col("value")).as[(Long, Double)].collect().toSet ===
      Set((0L, 1.0), (43200000L, 1.0), (86400000L, 1.0)))
    // deriv: exact two-point regression in t=12h windows
    val d = rangeQ("""deriv({name="up"}[1d])""")
      .where(col("value").isNotNull)
      .select(col("`labels.user`"), col("t"), col("value"))
      .as[(String, Long, Double)].collect().toSet
    // a: (0s,1)→(3600s,4): slope 3/3600 ≈ 0.000833; b: 6/7200 = 0.000833
    assert(d.contains(("a", 43200000L, 8.33e-4)))
    assert(d.contains(("b", 43200000L, 8.33e-4)))
  }

  test("evalRange: per-step histogram_quantile over le buckets") {
    val h = Seq(
      (1000L, 2.0, "/api", "10"), (1000L, 8.0, "/api", "20"),
      (1000L, 10.0, "/api", "+Inf")
    ).toDF("time", "value", "labels.path", "labels.le")
    val got = PromQL.evalRange(
      parse("""histogram_quantile(0.5, {path="/api"})"""),
      h, start = 0L, end = 2000L, stepMs = 1000L, lookbackMs = 86400000L)
      .select(col("`labels.path`"), col("t"), col("value"))
      .as[(String, Long, Double)].collect().toSet
    // the t=0 step predates every sample (staleness drops it); both
    // later steps see the same cumulative buckets → rank-5 interp = 15
    assert(got === Set(("/api", 1000L, 15.0), ("/api", 2000L, 15.0)))
  }

  test("*_over_time battery: single-value bucketed vectors that compose") {
    def m(q: String) = evalQ(q)
      .select(col("`labels.user`"), col("bucket"), col("value"))
      .as[(String, Long, Double)].collect().toSet
    // tumbling 1d buckets over `up`: a = {0→1, 1h→4, 24h→9}, b = {0→2, 2h→8}
    assert(m("""max_over_time({name="up"}[1d])""") ===
      Set(("a", 0L, 4.0), ("a", 86400000L, 9.0), ("b", 0L, 8.0)))
    assert(m("""last_over_time({name="up"}[1d])""") ===
      Set(("a", 0L, 4.0), ("a", 86400000L, 9.0), ("b", 0L, 8.0)))
    assert(m("""present_over_time({name="up"}[1d])""") ===
      Set(("a", 0L, 1.0), ("a", 86400000L, 1.0), ("b", 0L, 1.0)))
    assert(m("""delta({name="up"}[1d])""") ===
      Set(("a", 0L, 3.0), ("a", 86400000L, 0.0), ("b", 0L, 6.0)))
    // POPULATION stddev (Prometheus *_over_time): single-sample = 0
    assert(m("""stddev_over_time({name="up"}[1d])""") ===
      Set(("a", 0L, 1.5), ("a", 86400000L, 0.0), ("b", 0L, 3.0)))
    // idelta needs two samples — a's second bucket drops out
    assert(m("""idelta({name="up"}[1d])""") ===
      Set(("a", 0L, 3.0), ("b", 0L, 6.0)))
    assert(m("""changes({name="up"}[1d])""") ===
      Set(("a", 0L, 1.0), ("a", 86400000L, 0.0), ("b", 0L, 1.0)))
    // exact two-point regressions extrapolated 1h past the bucket end
    val pl = evalQ("""predict_linear({name="up"}[1d], 3600)""")
      .where(col("value").isNotNull)
      .select(col("`labels.user`"), col("bucket"), col("value"))
      .as[(String, Long, Double)].collect().toSet
    assert(pl === Set(("a", 0L, 76.0), ("b", 0L, 77.0)))
    // global aggregation keeps bucket as an implicit group key
    val tot = evalQ("""sum(max_over_time({name="up"}[1d]))""")
      .select(col("bucket"), col("value")).as[(Long, Double)].collect().toSet
    assert(tot === Set((0L, 12.0), (86400000L, 9.0)))
    // binary op between two bucketed vectors matches per bucket
    val span = evalQ(
      """max_over_time({name="up"}[1d]) - min_over_time({name="up"}[1d])""")
      .select(col("user"), col("bucket"), col("value"))
      .as[(String, Long, Double)].collect().toSet
    assert(span === Set(("a", 0L, 3.0), ("a", 86400000L, 0.0), ("b", 0L, 6.0)))
    // topk ranks WITHIN each bucket: b leads bucket 0 (8>4), a bucket 1
    val top = evalQ("""topk(1, max_over_time({name="up"}[1d]))""")
      .select(col("`labels.user`"), col("bucket"), col("value"))
      .as[(String, Long, Double)].collect().toSet
    assert(top === Set(("b", 0L, 8.0), ("a", 86400000L, 9.0)))
  }

  test("NaN comparisons follow IEEE semantics, not Spark ordering") {
    import PromQL._
    val sel = Selector(Seq(Matcher.Eq("name", "up")), None, 0L)
    def evalE(e: Expr) =
      eval(e, wide, at = At, lookbackMs = 86400000L, start = -1L,
        end = 100000000L)
    // v == NaN is false for every series (Spark's === would keep NaN
    // rows if any value were NaN; here it proves the guard compiles the
    // IEEE path: bool form maps everything to 0)
    val eq = evalE(BinOp("==", Nil, sel, ScalarLit(Double.NaN), bool = true))
      .select(col("value")).as[Double].collect().toSet
    assert(eq === Set(0.0))
    val ne = evalE(BinOp("!=", Nil, sel, ScalarLit(Double.NaN), bool = true))
      .select(col("value")).as[Double].collect().toSet
    assert(ne === Set(1.0))
    // and on the folded scalar path
    assert(evalE(BinOp("==", Nil, ScalarLit(Double.NaN),
      ScalarLit(Double.NaN), bool = true)).head.getDouble(1) === 0.0)
  }

  test("vector-scalar ops: arithmetic maps, comparison filters") {
    val doubled = evalQ("""{name="up"} * 2""")
      .select(col("`labels.user`"), col("value")).as[(String, Double)].collect().toMap
    assert(doubled === Map("a" -> 18.0, "b" -> 16.0))
    val filtered = evalQ("""{name="up"} > 8.5""")
      .select(col("`labels.user`"), col("value")).as[(String, Double)].collect().toMap
    assert(filtered === Map("a" -> 9.0))
  }

  test("vector/vector arithmetic joins on(...) and divides matched values") {
    // up: a→9.0, b→8.0 (instant at 90000000); down exists only for a→
    // but down@0 is outside the lookback, so the join keeps nothing…
    // use a selector pair that both resolve: up/a ÷ up/a via two sums
    val got = evalQ(
      """sum by (user) ({name="up"}) / on(user) sum by (user) ({name="up"})""")
      .as[(String, Double)].collect().toMap
    assert(got === Map("a" -> 1.0, "b" -> 1.0))
  }

  test("set ops and/or/unless respect on(...) membership") {
    val base = """{name="up"}"""
    val others = """{user="a"}"""
    // output rows are the surviving side's UNCHANGED (full label set,
    // Prometheus semantics) — membership alone consults on(user)
    val andU = evalQ(s"""$base and on(user) $others""")
      .select(col("`labels.user`"), col("`labels.name`"))
      .as[(String, String)].collect().toSet
    assert(andU === Set(("a", "up")))
    val unlessU = evalQ(s"""$base unless on(user) $others""")
      .select(col("`labels.user`")).as[String].collect().toSet
    assert(unlessU === Set("b"))
    val orU = evalQ(s"""({name="nope"}) or on(user) $base""")
      .select(col("`labels.user`")).as[String].collect().toSet
    assert(orU === Set("a", "b"))
  }

  test("histogram_quantile evaluates le-labeled cumulative buckets") {
    // one histogram at t=1000: buckets 10→2, 20→8, +Inf→10 per path
    val h = Seq(
      (1000L, 2.0, "/api", "10"), (1000L, 8.0, "/api", "20"),
      (1000L, 10.0, "/api", "+Inf")
    ).toDF("time", "value", "labels.path", "labels.le")
    val got = eval(parse("""histogram_quantile(0.5, {path="/api"})"""),
      h, at = 2000L, lookbackMs = 86400000L, start = 0L, end = 2000L)
      .select(col("`labels.path`"), col("value")).as[(String, Double)].collect().toSet
    // rank 5 in bucket (10,20]: 10 + 10*(5-2)/(8-2) = 15
    assert(got === Set(("/api", 15.0)))
    // THE canonical Prometheus histogram query — quantile over bucket
    // RATES: cumulative counters per le sampled twice, rate coerces to
    // value (toValueShape), interpolation runs over the rate ladder
    // 10→0.000556, 20→0.003333, +Inf→0.005556 (1h observed span)
    val hc = Seq(
      (1000L, 2.0, "/api", "10"), (3601000L, 4.0, "/api", "10"),
      (1000L, 8.0, "/api", "20"), (3601000L, 20.0, "/api", "20"),
      (1000L, 10.0, "/api", "+Inf"), (3601000L, 30.0, "/api", "+Inf")
    ).toDF("time", "value", "labels.path", "labels.le")
    val rq = eval(parse("""histogram_quantile(0.5, rate({path="/api"}[1d]))"""),
      hc, at = 3602000L, lookbackMs = 86400000L, start = 0L, end = 3602000L)
      .select(col("`labels.path`"), col("value")).as[(String, Double)].collect().toSet
    // rank 0.002778 lands in (10, 20]: 10 + 10*(rank−r10)/(r20−r10)
    assert(rq === Set(("/api", 18.00144)))
  }

  test("histogram_quantile over sum by (job, le): the aggregation's bare " +
      "le and job keys") {
    // two instances of one job, each a cumulative ladder sampled at 60s
    // and 300s: per-le increases sum to 10→2, 20→8, +Inf→10 over the
    // job, so rank 9 of 10 lands in (20, +Inf] → the highest finite
    // bound, 20 (Prometheus's rule for the +Inf bucket)
    val rows = for {
      inst <- Seq("i1", "i2")
      (le, c) <- Seq(("10", 1.0), ("20", 4.0), ("+Inf", 5.0))
      (t, mult) <- Seq((60000L, 0.0), (300000L, 1.0))
    } yield (t, c * mult, "m_bucket", "api", inst, le)
    val h = rows.toDF("time", "value", "labels.__name__", "labels.job",
      "labels.instance", "labels.le")
    val q = parse(
      "histogram_quantile(0.9, sum by (job, le) (rate(m_bucket[5m])))")
    val inst = PromQL.evalStrict(q, h, at = 300000L, lookbackMs = 300000L,
        start = 300000L, end = 300000L)
      .select(col("job"), col("value")).as[(String, Double)].collect()
    assert(inst.toSeq === Seq(("api", 20.0)))
    // the same ladder one step later keeps its window; the grid key `t`
    // groups per step
    val rng = PromQL.evalRange(q, h, start = 300000L, end = 301000L,
        stepMs = 1000L, lookbackMs = 300000L)
      .select(col("job"), col("t"), col("value"))
      .as[(String, Long, Double)].collect().toSet
    assert(rng === Set(("api", 300000L, 20.0), ("api", 301000L, 20.0)))
  }

  test("topk/bottomk rank the instant vector") {
    val top = evalQ("""topk(1, {name="up"})""")
      .select(col("`labels.user`"), col("value")).as[(String, Double)].collect().toSet
    assert(top === Set(("a", 9.0)))
    val bottom = evalQ("""bottomk(1, {name="up"})""")
      .select(col("`labels.user`"), col("value")).as[(String, Double)].collect().toSet
    assert(bottom === Set(("b", 8.0)))
  }

  test("negative offset parses and shifts the window forward") {
    assert(parse("""{name="up"} offset -1h""") ===
      Selector(Seq(Matcher.Eq("name", "up")), None, -3600000L))
    // at=0 with offset -1h the lookback window is (At-1d, At]+1h —
    // it reaches the 3600000 sample the un-shifted instant misses
    val df = eval(parse("""{name="up", user="a"} offset -1h"""), wide,
      at = 0L, lookbackMs = 3600000L, start = -1L, end = 100000000L)
    assert(df.select(col("value")).as[Double].collect().toSeq === Seq(4.0))
  }

  test("rank family parses: by-grouping, limitk, limit_ratio") {
    val sel = Selector(Seq(Matcher.Eq("name", "up")), None, 0L)
    assert(parse("""topk by (job, env) (3, {name="up"})""") ===
      RankK("topk", 3, sel, Seq("job", "env")))
    assert(parse("""limitk(4, {name="up"})""") === RankK("limitk", 4, sel))
    assert(parse("""topk without (env) (3, {name="up"})""") ===
      RankK("topk", 3, sel, Nil, Seq("env")))
    assert(parse("""limit_ratio(0.5, {name="up"})""") ===
      LimitRatio(0.5, sel))
    assert(parse("""limit_ratio(-0.5, {name="up"})""") ===
      LimitRatio(-0.5, sel))
    assert(parse("""sort_by_label({name="up"}, "user")""") ===
      StrFn("sort_by_label", sel, Seq("user")))
  }

  test("topk by (...) ranks within each group") {
    // at=0 the 1-day lookback window holds every series' t=0 sample:
    // up→{a:1, b:2}, down→{a:5}; topk by (name) (1, …) keeps the max
    // per name
    val df = eval(parse("""topk by (name) (1, {name=~"up|down"})"""),
      wide, at = 0L, lookbackMs = 86400000L, start = -1L, end = 100000000L)
    assert(df.select(col("`labels.name`"), col("`labels.user`"),
        col("value")).as[(String, String, Double)].collect().toSet ===
      Set(("up", "b", 2.0), ("down", "a", 5.0)))
    // the without form groups by the complement — without (user) ≡
    // by (name) on this two-label vector
    val w = eval(parse("""topk without (user) (1, {name=~"up|down"})"""),
      wide, at = 0L, lookbackMs = 86400000L, start = -1L, end = 100000000L)
    assert(w.select(col("`labels.name`"), col("`labels.user`"),
        col("value")).as[(String, String, Double)].collect().toSet ===
      Set(("up", "b", 2.0), ("down", "a", 5.0)))
  }

  test("limitk keeps the k first series in label order") {
    // deterministic refinement of Prometheus's "any k series": the
    // canonical series identity orders (up,a) < (up,b)
    val one = evalQ("""limitk(1, {name="up"})""")
      .select(col("`labels.user`"), col("value")).as[(String, Double)].collect().toSet
    assert(one === Set(("a", 9.0)))
    val all = evalQ("""limitk(5, {name="up"})""")
      .select(col("`labels.user`")).as[String].collect().toSet
    assert(all === Set("a", "b"))
  }

  test("limit_ratio(r) and limit_ratio(r-1) partition the vector") {
    val full = rows(evalQ("""{name=~"up|down"}"""))
    val kept = rows(evalQ("""limit_ratio(0.4, {name=~"up|down"})"""))
    val rest = rows(evalQ("""limit_ratio(-0.6, {name=~"up|down"})"""))
    assert((kept ++ rest) === full)
    assert(kept.intersect(rest).isEmpty)
  }

  test("limit_ratio membership is stable across range-mode steps") {
    // the hash band keys on the series identity only (no t), so the
    // kept series set cannot flicker between grid steps — the
    // Prometheus contract for ratio sampling under query_range
    val df = evalRange(parse("""limit_ratio(0.5, {name="up"})"""), wide,
      start = 0L, end = 86400000L, stepMs = 3600000L,
      lookbackMs = 86400000L)
    val perStep = df.select(col("t"), col("`labels.user`"))
      .as[(Long, String)].collect().groupBy(_._1)
      .map { case (_, v) => v.map(_._2).toSet }.toSet
    // every step that returned anything returned the SAME series set
    // (here both series' samples cover every step via the lookback)
    assert(perStep.size <= 1)
  }

  test("mad_over_time: median absolute deviation per tumbling window") {
    // bucket 0: (up,a)={1,4} → med 2.5, devs {1.5,1.5} → 1.5;
    //           (up,b)={2,8} → med 5, devs {3,3} → 3;
    // bucket 1d: (up,a)={9} → 0
    val df = evalQ("""mad_over_time({name="up"}[1d])""")
    assert(df.select(col("`labels.user`"), col("bucket"), col("value"))
        .as[(String, Long, Double)].collect().toSet ===
      Set(("a", 0L, 1.5), ("b", 0L, 3.0), ("a", 86400000L, 0.0)))
  }

  test("evalStrict: un-anchored range fns evaluate ONE Prometheus window") {
    // strict instant semantics ≡ the explicitly @-anchored form: one
    // window (at − range, at] per series, one value per series, no
    // tumbling bucket column
    val strict = evalStrict(parse("""rate({name="up"}[2d])"""), wide,
      at = At, lookbackMs = 86400000L, start = -1L, end = 100000000L)
    assert(!strict.columns.contains("bucket"))
    assert(rows(strict) === rows(evalQ(s"""rate({name="up"}[2d] @ ${At / 1000})""")))
    // hand check: (up,b) has one in-window pair (0 → 7200000, Δ=6) →
    // round(6 / 7200, 6); (up,a) two pairs Δ=3+5 over 86400 s
    val v = strict.select(col("`labels.user`"), col("value"))
      .as[(String, Double)].collect().toMap
    assert(v("b") === 0.000833)
    assert(v("a") === 0.000093)
    // composition under strict mode: aggregation over the one-window
    // vector yields one row per group
    val agg = evalStrict(parse("""sum by (name) (rate({name="up"}[2d]))"""),
      wide, at = At, lookbackMs = 86400000L, start = -1L, end = 100000000L)
    assert(agg.count() === 1L)
    // subquery interiors stay on their own grid (NOT anchored to `at`)
    val sq = parse("""max_over_time(({name="up"})[1d:1h])""")
    assert(rows(evalStrict(sq, wide, At, 86400000L, -1L, 100000000L)) ===
      rows(eval(sq, wide, At, 86400000L, -1L, 100000000L)))
  }

  test("xincrease/xrate: Prometheus boundary extrapolation, exactly") {
    // the canonical Prometheus behavior: a perfectly regular counter
    // 0..9 over a 10s window extrapolates increase 9 → 10 (classic
    // "increase returns the true per-window delta, not n−1 intervals")
    val counter = (0 to 10).map(i => (i * 1000L, i.toDouble, "c"))
      .toDF("time", "value", "labels.name")
    val inc = eval(parse("""xincrease({name="c"}[10s])"""), counter,
      at = 10000L, lookbackMs = 86400000L, start = 0L, end = 10000L)
      .select(col("bucket"), col("value")).as[(Long, Double)].collect().toMap
    assert(inc(0L) === 10.0)
    val rate = eval(parse("""xrate({name="c"}[10s])"""), counter,
      at = 10000L, lookbackMs = 86400000L, start = 0L, end = 10000L)
      .select(col("value")).as[Double].collect().toSeq
    assert(rate === Seq(1.0))
    // sliding form at t=10000 over (0, 10000]: 9 in-window pairs,
    // start gap 1000 = one average interval → extrapolates to 10.0;
    // counter-zero clamp: dz = 1000 NOT < ds1 = 1000 keeps the gap
    val sl = evalRange(parse("""xincrease({name="c"}[10s])"""), counter,
      start = 0L, end = 10000L, stepMs = 5000L, lookbackMs = 86400000L)
      .where(col("t") === 10000L)
      .select(col("value")).as[Double].collect().toSeq
    assert(sl === Seq(10.0))
  }

  test("xincrease composes over subqueries (grid-axis extrapolation)") {
    val counter = (0 to 10).map(i => (i * 1000L, i.toDouble, "c"))
      .toDF("time", "value", "labels.name")
    // the subquery grid touches both window edges, so the
    // extrapolation factor is 1 and xincrease = the true delta 10
    val r = eval(parse("""xincrease(({name="c"})[10s:1s])"""), counter,
      at = 10000L, lookbackMs = 86400000L, start = 0L, end = 10000L)
      .select(col("value")).as[Double].collect().toSeq
    assert(r === Seq(10.0))
    // range mode: per outer step, same machinery one level up — at
    // t=10000 the window [0, 10000] holds the full grid
    val rr = evalRange(parse("""xincrease(({name="c"})[10s:1s])"""),
      counter, start = 0L, end = 10000L, stepMs = 5000L,
      lookbackMs = 86400000L)
      .where(col("t") === 10000L)
      .select(col("value")).as[Double].collect().toSeq
    assert(rr === Seq(10.0))
  }

  test("ts_of_max/min/last_over_time report the sample's timestamp") {
    // (up,a) bucket 0 samples: (0, 1), (3600000, 4) → max at 3600 s,
    // min at 0 s, last at 3600 s
    val df = evalQ("""ts_of_max_over_time({name="up", user="a"}[1d])""")
      .select(col("bucket"), col("value")).as[(Long, Double)].collect().toMap
    assert(df(0L) === 3600.0)
    val mn = evalQ("""ts_of_min_over_time({name="up", user="a"}[1d])""")
      .select(col("bucket"), col("value")).as[(Long, Double)].collect().toMap
    assert(mn(0L) === 0.0)
    val lt = evalQ("""ts_of_last_over_time({name="up", user="a"}[1d])""")
      .select(col("bucket"), col("value")).as[(Long, Double)].collect().toMap
    assert(lt(0L) === 3600.0)
  }

  test("sort_by_label orders rows by the label (presentation)") {
    val asc = evalQ("""sort_by_label({name="up"}, "user")""")
      .select(col("`labels.user`")).as[String].collect().toSeq
    assert(asc === Seq("a", "b"))
    val desc = evalQ("""sort_by_label_desc({name="up"}, "user")""")
      .select(col("`labels.user`")).as[String].collect().toSeq
    assert(desc === Seq("b", "a"))
  }

  test("UTF-8 names: quoted metric and label selectors (Prometheus 3)") {
    // parse shapes
    val s1 = parse("""{"http.requests.total", "service.name"="api"}""")
      .asInstanceOf[Selector]
    assert(s1.matchers === Seq(
      graft.model.Matcher.Eq("__name__", "http.requests.total"),
      graft.model.Matcher.Eq("service.name", "api")))
    val s2 = parse("""{"service.name"!~"a.*", job="x"}""").asInstanceOf[Selector]
    assert(s2.matchers === Seq(
      graft.model.Matcher.NotRe("service.name", "a.*"),
      graft.model.Matcher.Eq("job", "x")))
    // bare quoted string after a prefix name, or twice, is an error
    intercept[ParseError](parse("""foo{"bar"}"""))
    intercept[ParseError](parse("""{"a", "b"}"""))

    // evaluation over dotted label columns (backticked under the hood)
    val w = Seq(
      (0L, 1.0, "http.requests.total", "api"),
      (0L, 2.0, "http.requests.total", "db"),
      (0L, 7.0, "other", "api")
    ).toDF("time", "value", "labels.__name__", "labels.service.name")
    val got = eval(
      parse("""sum by ("service.name") ({"http.requests.total"})"""),
      w, at = 1000L, lookbackMs = 86400000L, start = -1L, end = 10000L)
      .select(col("`service.name`"), col("value"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSet
    assert(got === Set(("api", 1.0), ("db", 2.0)))

    // render quotes non-legacy names and stays a parse fixed point
    val q = """sum by ("service.name") ({"http.requests.total", job="x"})"""
    val e = parse(q)
    assert(render(e) ===
      """sum by ("service.name") ({"http.requests.total",job="x"})""")
    assert(parse(render(e)) === e)
  }
}
