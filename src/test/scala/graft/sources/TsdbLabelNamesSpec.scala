package graft.sources

import graft.{JobProbe, SparkSpec}
import graft.model.Matcher
import graft.sources.tsdbblock.{BlockMeta, TsdbBlockWriter, TsdbDb, TsdbWalWriter}
import graft.tsdb.{TsdbAdmin, TsdbIngest, TsdbSchema}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}

/** Label discovery over a whole data directory: the names
  * `TsdbDb.read` takes from the indexes, tombstones and WAL dictionary
  * must be exactly the decode pass's, answered with no Spark job — and
  * where the driver cannot tell (a series whose visible samples all lie
  * under tombstones), or the frame is derived, the decode pass answers. */
class TsdbLabelNamesSpec extends SparkSpec {
  import TsdbLabelNamesSpec._

  private val Range = 10000L
  private val blockSeries = Seq(
    Map("__name__" -> "m", "job" -> "a"),
    Map("__name__" -> "m", "job" -> "b", "blk" -> "x"),
    Map("__name__" -> "n", "gone" -> "y"))

  private def frame(rows: Seq[(Long, Double, Map[String, String])])
      : DataFrame = {
    val sp = spark
    import sp.implicits._
    rows.toDF("time", "value", "labels")
  }

  private def every(series: Seq[Map[String, String]], times: Seq[Long]) =
    for (t <- times; l <- series) yield (t, (t / 1000).toDouble, l)

  /** Build the data directory a recipe describes; returns its path. */
  private def build(r: Dir): String = {
    val db = tmpDir("names_prop")
    val wal = s"$db/wal"
    TsdbBlockWriter.write(frame(every(blockSeries, 0L until 20000L by 1000L)),
      db, Range)
    // the two blocks in time order
    val first = new java.io.File(db).listFiles().filter(_.isDirectory)
      .map(_.getPath).sortBy(BlockMeta.read(_).minTime)
    if (r.overlap) // salted new blocks over both windows
      TsdbBlockWriter.write(frame(every(blockSeries.take(1),
        5000L until 14000L by 1000L)), db, Range)
    val gone = Seq(Matcher.Eq("gone", "y"))
    r.stone match {
      case Stone.Whole => first.foreach(TsdbAdmin.deleteSeries(_, gone))
      case Stone.Partial => TsdbAdmin.deleteSeries(first.head, gone, 2000L, 6000L)
      case Stone.Gap | Stone.EmptyGap =>
        // the first block's series ends (0 and 9000) lie under two
        // stones; between them 4000 and 5000 are live, or nothing is
        val from = if (r.stone == Stone.Gap) 5500L else 3600L
        TsdbAdmin.deleteSeries(first.head, gone, 0L, 3500L)
        TsdbAdmin.deleteSeries(first.head, gone, from, 9999L)
        TsdbAdmin.deleteSeries(first(1), gone)
      case Stone.NoStone =>
    }
    r.wal match {
      case Wal.Absent =>
      case Wal.EmptyDir => new java.io.File(wal).mkdirs()
      case Wal.EmptySegment =>
        new java.io.File(wal).mkdirs()
        new java.io.File(wal, "00000000").createNewFile()
      case Wal.Samples =>
        TsdbWalWriter.write(frame(every(Seq(blockSeries.head,
          Map("__name__" -> "w", "wal_only" -> "z")),
          20000L until 30000L by 1000L)), wal)
    }
    if (r.markers || r.orphan || r.walStone.isDefined) {
      new java.io.File(wal).mkdirs()
      val base = 91L << 32
      def v(x: Double) = java.lang.Double.doubleToLongBits(x)
      TsdbWalWriter.writeSegment(s"$wal/00000090", Iterator(
        TsdbWalWriter.seriesRecord(Seq(
          base + 1 -> Seq("__name__" -> "st", "stale_only" -> "1"),
          base + 2 -> Seq("__name__" -> "ws", "wstone" -> "1"))),
        TsdbDbMergeSpec.rawSamples(
          (if (r.markers) Seq((base + 1, 31000L, TsdbSchema.StaleNaNBits))
           else Nil) ++
          (if (r.orphan) Seq((base + 9, 31000L, v(1.0))) else Nil) ++
          (if (r.walStone.isDefined)
            Seq((base + 2, 31000L, v(2.0)), (base + 2, 32000L, v(3.0)))
          else Nil)),
        TsdbWalWriter.tombstonesRecord(r.walStone.toSeq.map { whole =>
          (base + 2, 31000L, if (whole) 32000L else 31000L) })))
    }
    db
  }

  /** The fast answer equals the decode pass, and runs no job exactly
    * when the driver could tell; otherwise the decode pass answers. */
  private def agrees(r: Dir): Boolean = {
    val db = build(r)
    val df = TsdbDb.read(spark, db)
    val want = decoded(df)
    val (got, seen) = JobProbe(spark)(TsdbIngest.labelNames(df))
    val fast = !(r.stone == Stone.Gap || r.stone == Stone.EmptyGap)
    val expected =
      (r.stone != Stone.Whole && r.stone != Stone.EmptyGap) ==
        want.contains("gone") &&
      want.contains("blk") &&
      (r.wal == Wal.Samples) == want.contains("wal_only") &&
      r.markers == want.contains("stale_only") &&
      r.walStone.contains(false) == want.contains("wstone")
    val ok = expected && got == want &&
      (if (fast) seen.jobs == 0 && TsdbDb.labelNames(df).contains(want)
       else seen.jobs > 0 && TsdbDb.labelNames(df).isEmpty)
    if (!ok) info(s"$r: got $got ($seen), decode pass $want")
    ok
  }

  test("label names from the indexes ≡ the decode pass, with no job, on generated directories") {
    val all = Dir(overlap = true, stone = Stone.Whole, wal = Wal.Samples,
      markers = true, orphan = true, walStone = Some(true))
    assert(agrees(all))
    assert(agrees(all.copy(stone = Stone.Gap, walStone = Some(false))))
    assert(agrees(all.copy(stone = Stone.EmptyGap, wal = Wal.EmptySegment,
      markers = false, orphan = false, walStone = None)))
    assert(agrees(Dir(overlap = false, stone = Stone.NoStone,
      wal = Wal.EmptyDir, markers = false, orphan = false, walStone = None)))
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(8),
      Prop.forAllNoShrink(dirGen)(agrees))
    assert(res.passed, res.status.toString)
  }

  test("a frame derived from the whole-DB read takes the decode pass") {
    val db = build(Dir(overlap = false, stone = Stone.NoStone,
      wal = Wal.Samples, markers = false, orphan = false, walStone = None))
    val df = TsdbDb.read(spark, db)
    val (names, seen) = JobProbe(spark)(TsdbIngest.labelNames(df))
    assert(names.contains("blk") && seen.jobs == 0, seen)
    // a filter that removes the only series carrying `blk`
    val filtered = df.where(element_at(col("labels"), "blk").isNull)
    val (got, seenFiltered) = JobProbe(spark)(TsdbIngest.labelNames(filtered))
    assert(TsdbDb.labelNames(filtered).isEmpty)
    assert(got == decoded(filtered) && !got.contains("blk"), got)
    assert(seenFiltered.jobs > 0, seenFiltered)
    // so does a union, and a select with matchers
    val twice = df.unionByName(df)
    assert(TsdbDb.labelNames(twice).isEmpty &&
      TsdbIngest.labelNames(twice) == names)
    val matched = TsdbDb.select(spark, db, Seq(Matcher.Eq("job", "a")))
    assert(TsdbDb.labelNames(matched).isEmpty &&
      TsdbIngest.labelNames(matched) == decoded(matched))
  }
}

object TsdbLabelNamesSpec {
  sealed trait Stone
  object Stone {
    case object NoStone extends Stone
    case object Whole extends Stone
    case object Partial extends Stone
    case object Gap extends Stone
    case object EmptyGap extends Stone
  }
  sealed trait Wal
  object Wal {
    case object Absent extends Wal
    case object EmptyDir extends Wal
    case object EmptySegment extends Wal
    case object Samples extends Wal
  }

  /** A generated data directory: overlapping blocks or not, tombstones
    * on the series that alone carries `gone`, a WAL, and raw WAL
    * records — a marker-only series, an orphan ref, a WAL tombstone
    * over a whole (Some(true)) or part (Some(false)) of a series. */
  final case class Dir(overlap: Boolean, stone: Stone, wal: Wal,
                       markers: Boolean, orphan: Boolean,
                       walStone: Option[Boolean])

  val dirGen: Gen[Dir] = for {
    overlap <- Gen.oneOf(false, true)
    stone <- Gen.oneOf(Stone.NoStone, Stone.Whole, Stone.Partial, Stone.Gap,
      Stone.EmptyGap)
    wal <- Gen.oneOf(Wal.Absent, Wal.EmptyDir, Wal.EmptySegment, Wal.Samples)
    markers <- Gen.oneOf(false, true)
    orphan <- Gen.oneOf(false, true)
    walStone <- Gen.option(Gen.oneOf(false, true))
  } yield Dir(overlap, stone, wal, markers, orphan, walStone)

  /** The decode pass: explode, distinct, sort — over a derived frame. */
  def decoded(df: DataFrame): Seq[String] =
    df.select(explode(map_keys(col("labels")))).distinct().collect()
      .map(_.getString(0)).sorted.toSeq
}
