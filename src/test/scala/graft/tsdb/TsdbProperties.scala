package graft.tsdb

import graft.SparkTestBase
import graft.model.{Matcher, Sample}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}

/** Property-based checks (SURVEY §5): the matcher compiler and the
  * regroup pipeline are compared against direct Scala models of the
  * reference semantics over randomized inputs — absent/empty labels,
  * duplicate timestamps, adversarial value mixes.
  */
object TsdbProperties extends Properties("tsdb") {
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(12)

  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  // ---- generators ----
  private val labelValue: Gen[Option[String]] = Gen.oneOf(
    Gen.const(None),            // absent ⇒ NULL column
    Gen.const(Some("")),        // stored empty ⇒ semantically absent
    Gen.oneOf("a", "b", "ab", "ba").map(Some(_)))

  private val matcher: Gen[Matcher] = for {
    v <- Gen.oneOf("", "a", "b", "ab")
    p <- Gen.oneOf("", "a", "b", "a+", "b.")
    m <- Gen.oneOf[Matcher](Matcher.Eq("env", v), Matcher.NotEq("env", v),
      Matcher.Re("env", p), Matcher.NotRe("env", p))
  } yield m

  /** The reference's decode semantics: absent ≡ "" (hello.go:339-349);
    * regex is an unanchored find (hello.go:310-311). */
  private def model(m: Matcher, stored: Option[String]): Boolean = {
    val s = stored.getOrElse("")
    m match {
      case Matcher.Eq(_, v) => s == v
      case Matcher.NotEq(_, v) => s != v
      case Matcher.Re(_, p) => java.util.regex.Pattern.compile(p).matcher(s).find()
      case Matcher.NotRe(_, p) => !java.util.regex.Pattern.compile(p).matcher(s).find()
    }
  }

  property("matcher compiler ≡ Prometheus matcher model") = Prop.forAll(
    Gen.nonEmptyListOf(labelValue), matcher) { (values, m) =>
    val rows = values.zipWithIndex.map { case (v, i) => (i.toLong, v.orNull) }
    val df = rows.toDF("id", "labels.env")
    val got = df.where(MatcherCompiler.compile(m, Set("env")))
      .select($"id").as[Long].collect().toSet
    val want = rows.collect {
      case (id, v) if model(m, Option(v)) => id
    }.toSet
    got == want
  }

  property("unknown label name behaves as an all-NULL column") = Prop.forAll(matcher) { m =>
    val df = Seq((1L, "x")).toDF("id", "labels.other")
    val got = df.where(MatcherCompiler.compile(m, Set("other"))).count() == 1
    got == model(m, None)
  }

  // ---- regroup: long → wide → series ≡ Scala model ----
  private val sample: Gen[Sample] = for {
    t <- Gen.choose(0L, 15L) // small range ⇒ duplicate timestamps likely
    v <- Gen.choose(0, 9).map(_.toDouble)
    env <- labelValue
    job <- labelValue
  } yield Sample(t, v,
    (env.map("env" -> _) ++ job.map("job" -> _)).toMap)

  property("regroup ≡ group-by decoded label set, time-sorted, dups kept") =
    Prop.forAll(Gen.nonEmptyListOf(sample)) { samples =>
      val wide = TsdbIngest.toWide(samples.toDS().toDF())
      val got = TsdbTable(wide).regroup(wide).collect()
        .map(s => (s.labels, s.ts.toList, s.v.toList)).toSet
      val want = samples
        .groupBy(s => s.labels.filter(_._2.nonEmpty)) // decode: drop ""
        .map { case (k, ss) =>
          val pairs = ss.map(s => (s.time, s.value)).sorted // struct sort
          (k, pairs.map(_._1), pairs.map(_._2))
        }.toSet
      got == want
    }

  property("increase ≡ per-series reset-aware delta fold") =
    Prop.forAll(Gen.nonEmptyListOf(sample)) { samples =>
      val wide = TsdbIngest.toWide(samples.toDS().toDF())
      val got = RangeVectors.increase(wide).collect()
        .map { r =>
          val labels = TsdbSchema.labelColumns(wide).flatMap(c =>
            Option(r.getAs[String](c)).map(c.stripPrefix("labels.") -> _)).toMap
          (labels, r.getAs[Long]("n"), r.getAs[Double]("increase"))
        }.toSet
      // model: group by RAW label map (increase groups on stored columns,
      // "" kept distinct from absent — unlike regroup's decode), order by
      // (time, value), fold deltas with the Prometheus reset rule
      val want = samples
        .groupBy(_.labels) // raw stored labels ("" not dropped)
        .map { case (k, ss) =>
          val vs = ss.map(s => (s.time, s.value)).sorted.map(_._2)
          val inc = vs.zip(0.0 +: vs.dropRight(1)).zipWithIndex.map {
            case (_, 0) => 0.0
            case ((v, prev), _) if v - prev < 0 => v // reset
            case ((v, prev), _) => v - prev
          }.sum
          (k, ss.size.toLong,
            BigDecimal(inc).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }.toSet
      got == want
    }

  // shared model scaffolding for the bucketed range-vector functions:
  // group by (raw labels, bucket), samples ordered (time, value)
  private val Step = 8L
  private def bucketed(samples: List[Sample]): Map[(Map[String, String], Long), List[(Long, Double)]] =
    samples.groupBy(s => (s.labels, s.time / Step * Step))
      .view.mapValues(_.map(s => (s.time, s.value)).sorted).toMap
  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  private def rowLabels(wide: org.apache.spark.sql.DataFrame,
                        r: org.apache.spark.sql.Row): Map[String, String] =
    TsdbSchema.labelColumns(wide).flatMap(c =>
      Option(r.getAs[String](c)).map(c.stripPrefix("labels.") -> _)).toMap

  property("resets/changes ≡ per-(series,bucket) consecutive-pair scan") =
    Prop.forAll(Gen.nonEmptyListOf(sample)) { samples =>
      val wide = TsdbIngest.toWide(samples.toDS().toDF())
      val got = RangeVectors.resetsChanges(wide, Step).collect().map { r =>
        (rowLabels(wide, r), r.getAs[Long]("bucket"), r.getAs[Long]("n"),
          r.getAs[Long]("resets"), r.getAs[Long]("changes"))
      }.toSet
      val want = bucketed(samples).map { case ((k, b), tv) =>
        val pairs = tv.map(_._2).sliding(2).filter(_.size == 2).toList
        (k, b, tv.size.toLong,
          pairs.count(p => p(1) < p(0)).toLong,
          pairs.count(p => p(1) != p(0)).toLong)
      }.toSet
      got == want
    }

  property("rate ≡ reset-adjusted increase over observed span per bucket") =
    Prop.forAll(Gen.nonEmptyListOf(sample)) { samples =>
      val wide = TsdbIngest.toWide(samples.toDS().toDF())
      val got = RangeVectors.rate(wide, Step).collect().map { r =>
        (rowLabels(wide, r), r.getAs[Long]("bucket"), r.getAs[Long]("n"),
          r.getAs[Double]("increase"),
          if (r.isNullAt(r.fieldIndex("rate_v"))) None
          else Some(r.getAs[Double]("rate_v")))
      }.toSet
      val want = bucketed(samples).map { case ((k, b), tv) =>
        val vs = tv.map(_._2)
        val inc = round6(vs.tail.zip(vs.init).map {
          case (v, prev) if v - prev < 0 => v
          case (v, prev) => v - prev
        }.sum)
        val span = (tv.last._1 - tv.head._1) / 1000.0
        (k, b, tv.size.toLong, inc,
          if (span == 0.0) None else Some(round6(inc / span)))
      }.toSet
      got == want
    }

  property("irate/idelta ≡ last-two-samples delta; <2-sample buckets drop") =
    Prop.forAll(Gen.nonEmptyListOf(sample)) { samples =>
      val wide = TsdbIngest.toWide(samples.toDS().toDF())
      val got = RangeVectors.irate(wide, Step).collect().map { r =>
        (rowLabels(wide, r), r.getAs[Long]("bucket"),
          r.getAs[Double]("idelta"),
          if (r.isNullAt(r.fieldIndex("irate_v"))) None
          else Some(r.getAs[Double]("irate_v")))
      }.toSet
      val want = bucketed(samples).collect {
        case ((k, b), tv) if tv.size >= 2 =>
          val List((t0, v0), (t1, v1)) = tv.takeRight(2)
          val num = if (v1 >= v0) v1 - v0 else v1
          (k, b, round6(v1 - v0),
            if (t1 == t0) None else Some(round6(num / ((t1 - t0) / 1000.0))))
      }.toSet
      got == want
    }

  property("instant vector ≡ latest-in-lookback per series, stale dropped") =
    Prop.forAll(Gen.nonEmptyListOf(sample), Gen.choose(5L, 15L),
      Gen.choose(1L, 10L)) { (samples, at, lookback) =>
      val wide = TsdbIngest.toWide(samples.toDS().toDF())
      val got = RangeVectors.instant(wide, at, lookback).collect()
        .map { r =>
          val labels = TsdbSchema.labelColumns(wide).flatMap(c =>
            Option(r.getAs[String](c)).map(c.stripPrefix("labels.") -> _)).toMap
          (labels, r.getAs[Long]("time"), r.getAs[Double]("value"))
        }.toSet
      val want = samples
        .filter(s => s.time > at - lookback && s.time <= at)
        .groupBy(_.labels)
        .map { case (k, ss) =>
          val (t, v) = ss.map(s => (s.time, s.value)).max
          (k, t, v)
        }.toSet
      got == want
    }

  property("toWide is lossless for non-empty labels (round trip)") =
    Prop.forAll(Gen.nonEmptyListOf(sample)) { samples =>
      val wide = TsdbIngest.toWide(samples.toDS().toDF())
      val names = TsdbSchema.labelColumns(wide).map(_.stripPrefix("labels."))
      val back = wide.collect().map { r =>
        val labels = names.flatMap { n =>
          Option(r.getAs[String](s"labels.$n")).map(n -> _)
        }.toMap
        Sample(r.getAs[Long]("time"), r.getAs[Double]("value"), labels)
      }.toList
      back.sortBy(s => (s.time, s.value, s.labels.toString)) ==
        samples.sortBy(s => (s.time, s.value, s.labels.toString))
    }

  // the PromQL AST generator shared by the round-trip and
  // analyzability properties
  private object PromQLGen {
    import PromQL._
    val label = Gen.oneOf("job", "env", "user", "k")
    val value = Gen.oneOf("api", "prod", "us-1", "9")
    val matcher = for {
      n <- label; v <- value
      m <- Gen.oneOf[Matcher](Matcher.Eq(n, v), Matcher.NotEq(n, v),
        Matcher.Re(n, v + ".*"), Matcher.NotRe(n, v))
    } yield m
    val selector = for {
      metric <- Gen.oneOf(None, Some("http_requests"), Some("up"))
      ms <- Gen.listOfN(2, matcher)
      // ms-granular ranges/offsets and a sub-second @ anchor pin the
      // renderer's exact duration/decimal text (1500ms must not
      // canonicalize to "1s")
      range <- Gen.oneOf(None, Some(60000L), Some(86400000L), Some(1500L))
      off <- Gen.oneOf(0L, 3600000L, -3600000L, 2500L, -750L)
      atm <- Gen.oneOf(None, Some(AtMs(1704412800000L)),
        Some(AtMs(1704412800123L)), Some(AtStart), Some(AtEnd))
    } yield Selector(
      metric.map(m => Matcher.Eq("__name__", m)).toSeq ++ ms, range, off,
      // @ composes with instant AND range selectors (not subqueries)
      atm)
    val ranged = selector.map(_.copy(rangeMs = Some(3600000L)))
    val instant = selector.map(_.copy(rangeMs = None))
    def expr(depth: Int): Gen[Expr] =
      if (depth == 0) instant
      else Gen.oneOf(
        instant,
        Gen.const(TimeLit),
        Gen.oneOf(Gen.const(Fn("vector", TimeLit, Nil)),
          Gen.choose(0, 9).map(n => Fn("vector", ScalarLit(n), Nil))),
        ranged.map(Fn("absent_over_time", _, Nil)),
        ranged.map(Fn("rate", _, Nil)),
        ranged.map(Fn("holt_winters", _, Seq(0.5, 0.3))),
        ranged.map(Fn("quantile_over_time", _, Seq(0.9))),
        for {
          name <- Gen.oneOf("min_over_time", "max_over_time",
            "sum_over_time", "count_over_time", "last_over_time",
            "present_over_time", "stddev_over_time", "stdvar_over_time",
            "mad_over_time", "ts_of_max_over_time", "ts_of_min_over_time",
            "ts_of_last_over_time", "delta", "changes", "idelta",
            "xrate", "xincrease")
          r <- ranged
        } yield Fn(name, r, Nil),
        ranged.map(Fn("predict_linear", _, Seq(3600.0))),
        Gen.lzy(for {
          op <- Gen.oneOf("sum", "avg", "min", "max", "count")
          by <- Gen.nonEmptyListOf(label).map(_.distinct)
          a <- expr(depth - 1)
        } yield AggBy(op, by, a)),
        Gen.lzy(for {
          op <- Gen.oneOf("sum", "avg", "min", "max", "count", "group")
          w <- Gen.nonEmptyListOf(label).map(_.distinct)
          a <- expr(depth - 1)
        } yield AggWithout(op, w, a)),
        Gen.lzy(for {
          by <- Gen.listOf(label).map(_.distinct)
          a <- expr(depth - 1)
        } yield AggBy("quantile", by, a, Some(0.9))),
        Gen.lzy(for {
          fn <- Gen.oneOf("max_over_time", "avg_over_time",
            "count_over_time")
          r <- Gen.oneOf(Gen.choose(2L, 48L).map(_ * 3600000L),
            Gen.const(5500L))
          st <- Gen.oneOf(Gen.choose(1L, 12L).map(_ * 3600000L),
            Gen.const(250L))
          off <- Gen.oneOf(0L, 60000L, -60000L, 1250L)
          atm <- Gen.oneOf(None, Some(AtMs(1704412800000L)),
            Some(AtStart), Some(AtEnd))
          a <- expr(depth - 1)
        } yield Fn(fn, Subquery(a, r, st, off, atm), Nil)),
        Gen.lzy(for {
          name <- Gen.oneOf("abs", "sqrt", "absent", "log2", "log10",
            "timestamp", "hour", "day_of_week", "year", "sort", "scalar")
          a <- expr(depth - 1)
        } yield Fn(name, a, Nil)),
        Gen.lzy(expr(depth - 1).map(a => Fn("clamp", a, Seq(2.0, 8.0)))),
        Gen.lzy(expr(depth - 1).map(a => Fn("round", a, Seq(0.5)))),
        Gen.lzy(for {
          a <- expr(depth - 1); dst <- label; src <- label
        } yield StrFn("label_replace", a, Seq(dst, "x-$1", src, "(a.*)"))),
        Gen.lzy(for {
          a <- expr(depth - 1); lbl <- label
          by <- Gen.listOf(label).map(_.distinct)
          w <- if (by.nonEmpty) Gen.const(Seq.empty[String])
               else Gen.oneOf(Gen.const(Seq.empty[String]),
                 Gen.nonEmptyListOf(label).map(_.distinct))
        } yield CountValues(lbl, a, by, w)),
        Gen.lzy(for {
          op <- Gen.oneOf("topk", "bottomk", "limitk")
          k <- Gen.choose(1, 9)
          by <- Gen.listOf(label).map(_.distinct)
          w <- if (by.nonEmpty) Gen.const(Seq.empty[String])
               else Gen.oneOf(Gen.const(Seq.empty[String]),
                 Gen.nonEmptyListOf(label).map(_.distinct))
          a <- expr(depth - 1)
        } yield RankK(op, k, a, by, w)),
        Gen.lzy(for {
          r <- Gen.oneOf(0.2, 0.5, 0.9, -0.5)
          a <- expr(depth - 1)
        } yield LimitRatio(r, a)),
        Gen.lzy(for {
          name <- Gen.oneOf("sort_by_label", "sort_by_label_desc")
          ls <- Gen.nonEmptyListOf(label).map(_.distinct)
          a <- expr(depth - 1)
        } yield StrFn(name, a, ls)),
        Gen.lzy(for {
          op <- Gen.oneOf("+", "-", "*", "/", "%", "^",
            ">", "<", ">=", "<=", "==", "!=")
          a <- expr(depth - 1)
          // negative scalars render as "-42.0" and reparse through the
          // unary-minus path
          s <- Gen.oneOf(Gen.choose(1, 99), Gen.choose(-99, -1))
          // `bool` only renders on comparisons
          bool <- if (Set(">", "<", ">=", "<=", "==", "!=").contains(op))
                    Gen.oneOf(true, false)
                  else Gen.const(false)
        } yield BinOp(op, Nil, a, ScalarLit(s.toDouble), bool)),
        Gen.lzy(for {
          op <- Gen.oneOf("+", "*", "/", "%", "^", "atan2")
          // empty on = PromQL default matching (optionally narrowed by
          // ignoring(...)); all three forms round-trip
          on <- Gen.oneOf(Gen.const(Seq.empty[String]),
            Gen.nonEmptyListOf(label).map(_.distinct))
          ign <- if (on.nonEmpty) Gen.const(Seq.empty[String])
                 else Gen.oneOf(Gen.const(Seq.empty[String]),
                   Gen.nonEmptyListOf(label).map(_.distinct))
          card <- Gen.oneOf("", "left", "right")
          carry <- if (card.isEmpty) Gen.const(Seq.empty[String])
                   else Gen.oneOf(Gen.const(Seq.empty[String]),
                     Gen.nonEmptyListOf(label).map(_.distinct))
          a <- expr(depth - 1); b <- expr(depth - 1)
        } yield BinOp(op, on, a, b, bool = false, card = card,
          ignoring = ign, carry = carry)),
        Gen.lzy(for {
          op <- Gen.oneOf("and", "or", "unless")
          on <- Gen.oneOf(Gen.const(Seq.empty[String]),
            Gen.nonEmptyListOf(label).map(_.distinct))
          ign <- if (on.nonEmpty) Gen.const(Seq.empty[String])
                 else Gen.oneOf(Gen.const(Seq.empty[String]),
                   Gen.nonEmptyListOf(label).map(_.distinct))
          a <- expr(depth - 1); b <- expr(depth - 1)
        } yield SetOp(op, on, a, b, ignoring = ign)))
  }

  property("PromQL parse ∘ render = identity over random ASTs") = {
    import PromQL._
    Prop.forAll(PromQLGen.expr(2)) { e =>
      val text = render(e)
      val back = parse(text)
      if (back != e) println(s"text=$text\n  want=$e\n  got =$back")
      back == e
    }
  }

  property("PromQL eval analyzes every generated AST or rejects it") = {
    // robustness pin over the same expression space: both evaluators
    // must either produce an ANALYZABLE plan (column plumbing resolves
    // end-to-end) or reject with the engine's IllegalArgumentException
    // (shapes invalid by design, e.g. aggregating a multi-stat frame) —
    // never a MatchError (missed evaluator case) or an
    // AnalysisException (broken column references)
    val wide = Seq(
      (0L, 1.0, "up", "a", "x"), (3600000L, 4.0, "up", "a", "x"),
      (7200000L, 8.0, "up", "b", "y"), (86400000L, 9.0, "up", "b", "y")
    ).toDF("time", "value", "labels.user", "labels.job", "labels.env")
    Prop.forAll(PromQLGen.expr(3)) { e =>
      def ok(label: String)(f: => org.apache.spark.sql.DataFrame): Boolean =
        try { f.queryExecution.analyzed; true }
        catch {
          case _: IllegalArgumentException => true
          case t: Throwable =>
            println(s"$label: ${PromQL.render(e)}\n  ${t.getClass.getName}: ${t.getMessage}")
            false
        }
      ok("eval")(PromQL.eval(e, wide, at = 90000000L,
        lookbackMs = 86400000L, start = -1L, end = 100000000L)) &&
      ok("evalRange")(PromQL.evalRange(e, wide, start = 0L,
        end = 86400000L, stepMs = 43200000L, lookbackMs = 86400000L))
    }
  }

  // the HIST tier's analyzability twin: random expressions over the
  // native-histogram grammar (selectors, rate/folds, ± with
  // default/on() matching, scalar scaling, the histogram_* family,
  // float-agg/rank re-entry, presence primitives) must either analyze
  // in BOTH modes or raise the engine's IllegalArgumentException —
  // never a MatchError (missed dispatch case) or AnalysisException
  // (broken column plumbing)
  private object HistGen {
    import PromQL._
    val label = Gen.oneOf("job", "inst")
    val matcher = for {
      n <- label; v <- Gen.oneOf("api", "a", "b")
    } yield Matcher.Eq(n, v): Matcher
    val instant: Gen[Selector] = for {
      ms <- Gen.listOfN(1, matcher)
      off <- Gen.oneOf(0L, 500L)
      atm <- Gen.oneOf(None, Some(AtMs(2000L)), Some(AtEnd))
    } yield Selector(ms, None, off, atm)
    val ranged: Gen[Selector] = for {
      s <- instant
      r <- Gen.oneOf(2000L, 3000L)
    } yield s.copy(rangeMs = Some(r))
    def histExpr(depth: Int): Gen[Expr] =
      if (depth == 0) instant
      else Gen.oneOf[Expr](
        instant,
        for {
          n <- Gen.oneOf("rate", "increase", "sum_over_time",
            "avg_over_time", "last_over_time", "delta")
          r <- ranged
        } yield Fn(n, r, Nil),
        Gen.lzy(for {
          op <- Gen.oneOf("sum", "avg")
          by <- Gen.listOf(label).map(_.distinct)
          a <- histExpr(depth - 1)
        } yield AggBy(op, by, a)),
        Gen.lzy(for {
          op <- Gen.oneOf("+", "-")
          on <- Gen.oneOf(Seq.empty[String], Seq("inst"))
          a <- histExpr(depth - 1); b <- histExpr(depth - 1)
        } yield BinOp(op, on, a, b)),
        Gen.lzy(histExpr(depth - 1).map(a =>
          BinOp("*", Nil, a, ScalarLit(2.0)))),
        Gen.lzy(histExpr(depth - 1).map(a =>
          BinOp("/", Nil, a, ScalarLit(4.0)))),
        // round 17: × ÷ by a float VECTOR, set ops between histogram
        // vectors, value-agnostic sampling, subquery merge folds
        Gen.lzy(for {
          op <- Gen.oneOf("*", "/")
          a <- histExpr(depth - 1)
          b <- floatExpr(math.max(0, depth - 1))
        } yield BinOp(op, Nil, a, b)),
        Gen.lzy(for {
          op <- Gen.oneOf("and", "or", "unless")
          on <- Gen.oneOf(Seq.empty[String], Seq("inst"))
          a <- histExpr(depth - 1); b <- histExpr(depth - 1)
        } yield SetOp(op, on, a, b)),
        Gen.lzy(histExpr(depth - 1).map(a =>
          RankK("limitk", 2, a, Nil, Nil))),
        Gen.lzy(histExpr(depth - 1).map(a => LimitRatio(0.5, a))),
        Gen.lzy(for {
          n <- Gen.oneOf("sum_over_time", "avg_over_time",
            "last_over_time")
          a <- histExpr(depth - 1)
        } yield Fn(n, Subquery(a, 2000L, 1000L), Nil)))
    def floatExpr(depth: Int): Gen[Expr] = Gen.oneOf[Expr](
      Gen.lzy(histExpr(depth).map(a =>
        Fn("histogram_quantile", a, Seq(0.9)))),
      Gen.lzy(for {
        n <- Gen.oneOf("histogram_count", "histogram_sum",
          "histogram_avg", "histogram_stddev")
        a <- histExpr(depth)
      } yield Fn(n, a, Nil)),
      ranged.map(Fn("count_over_time", _, Nil)),
      ranged.map(Fn("present_over_time", _, Nil)),
      ranged.map(Fn("absent_over_time", _, Nil)),
      instant.map(Fn("absent", _, Nil)),
      Gen.lzy(for {
        by <- Gen.listOf(label).map(_.distinct)
        a <- histExpr(depth)
      } yield AggBy("count", by, a)),
      Gen.lzy(for {
        op <- Gen.oneOf("sum", "max", "avg")
        by <- Gen.listOf(label).map(_.distinct)
        a <- floatExpr(math.max(0, depth - 1))
      } yield AggBy(op, by, a)),
      Gen.lzy(for {
        k <- Gen.choose(1, 3)
        a <- floatExpr(math.max(0, depth - 1))
      } yield RankK("topk", k, a, Nil, Nil)),
      Gen.lzy(for {
        op <- Gen.oneOf(">", "<", "+", "*")
        bool <- if (Set(">", "<").contains(op)) Gen.oneOf(true, false)
                else Gen.const(false)
        a <- floatExpr(math.max(0, depth - 1))
      } yield BinOp(op, Nil, a, ScalarLit(0.5), bool)),
      // round 17: float-result set ops / sampling / count over a
      // histogram-valued subquery inner
      Gen.lzy(for {
        op <- Gen.oneOf("and", "or", "unless")
        a <- floatExpr(math.max(0, depth - 1))
        b <- floatExpr(math.max(0, depth - 1))
      } yield SetOp(op, Nil, a, b)),
      Gen.lzy(floatExpr(math.max(0, depth - 1))
        .map(a => LimitRatio(0.5, a))),
      Gen.lzy(histExpr(math.max(0, depth - 1)).map(a =>
        Fn("count_over_time", Subquery(a, 2000L, 1000L), Nil))),
      Gen.lzy(for {
        n <- Gen.oneOf("max_over_time", "avg_over_time")
        a <- floatExpr(math.max(0, depth - 1))
      } yield Fn(n, Subquery(a, 2000L, 1000L), Nil)))
  }

  property("hist-tier eval analyzes every generated AST or rejects it") = {
    val hists = NativeHistogram.build(
      Seq(("api", "a", 1000L, 5.0), ("api", "a", 2000L, 15.0),
        ("api", "b", 1000L, 15.0), ("api", "b", 2000L, 30.0))
        .toDF("labels.job", "labels.inst", "time", "v"),
      Seq(col("`labels.job`"), col("`labels.inst`"), col("time")),
      col("v"), Seq(10.0, 20.0))
    val gen = Gen.oneOf(HistGen.histExpr(2), HistGen.floatExpr(2))
    Prop.forAll(gen) { e =>
      def ok(label: String)(f: => org.apache.spark.sql.DataFrame): Boolean =
        try { f.queryExecution.analyzed; true }
        catch {
          case _: IllegalArgumentException => true
          case t: Throwable =>
            println(s"$label: ${PromQL.render(e)}\n  " +
              s"${t.getClass.getName}: ${t.getMessage}")
            false
        }
      ok("eval")(PromQLHist.eval(e, hists, at = 2500L,
        lookbackMs = 2000L, start = 0L, end = 2500L, nLes = 3)) &&
      ok("evalStrict")(PromQLHist.evalStrict(e, hists, at = 2500L,
        lookbackMs = 2000L, nLes = 3)) &&
      ok("evalRange")(PromQLHist.evalRange(e, hists, start = 1000L,
        end = 3000L, stepMs = 1000L, lookbackMs = 2000L, nLes = 3))
    }
  }

  property("histogram_quantile ≡ bucket-interpolation model") = {
    // random non-cumulative bucket counts over a fixed finite le ladder
    // plus +Inf, random q — the engine (fed only the OBSERVED buckets,
    // mirroring a binned groupBy) must equal a direct Scala model of
    // Prometheus's bucketQuantile over the same present-bucket ladder
    val les = List(10.0, 20.0, 40.0, 80.0)
    val gen = for {
      counts <- Gen.listOfN(les.size + 1, Gen.choose(0L, 20L))
        .suchThat(cs => cs.init.sum > 0) // at least one finite bucket
      q <- Gen.oneOf(0.1, 0.25, 0.5, 0.9, 0.99)
    } yield (counts, q)
    Prop.forAll(gen) { case (counts, q) =>
      val allLes = les :+ Double.PositiveInfinity
      val cums = counts.scanLeft(0L)(_ + _).tail
      // a bucket is a series only if a sample fell in it (count > 0)
      val present = allLes.lazyZip(counts).lazyZip(cums)
        .collect { case (le, c, cum) if c > 0 => (le, cum.toDouble) }.toList
      val pLes = present.map(_._1)
      val pCums = present.map(_._2)
      val rank = q * pCums.last
      val i = pCums.indexWhere(_ >= rank)
      val want =
        if (pLes(i).isPosInfinity) pLes.takeWhile(!_.isPosInfinity).last
        else {
          val lower = if (i == 0) 0.0 else pLes(i - 1)
          val below = if (i == 0) 0.0 else pCums(i - 1)
          lower + (pLes(i) - lower) * (rank - below) / (pCums(i) - below)
        }
      val df = present.map { case (le, cum) => ("g", le, cum) }
        .toDF("g", "le", "cum")
      val got = VectorOps.histogramQuantile(df, Seq("g"), q)
        .select($"phi").as[Double].head()
      val wantR = BigDecimal(want)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val ok = math.abs(got - wantR) < 1e-9
      if (!ok) println(s"present=$present q=$q got=$got want=$wantR")
      ok
    }
  }
}
