package graft.sources

import java.nio.file.{Files, Paths}

import graft.{JobProbe, SparkSpec}
import graft.sources.tsdbblock.{TsdbBlockWriter, TsdbDb, TsdbWalWriter, WalReader}
import graft.tsdb.TsdbSchema
import org.scalacheck.{Gen, Prop, Test}

/** The block writer's one placed sort and its stream: every slice in a
  * task of its own, staleness markers carried into the chunks, and
  * blocks byte-identical to the in-memory [[TsdbBlockWriter.writeBlock]]
  * over the same series. */
class BlockWriteStreamSpec extends SparkSpec {
  import BlockWriteStreamSpec._

  private val Hour = 3600L * 1000

  test("a staleness marker survives compactWal and reads back NULL") {
    // a hand-framed WAL (raw value bits): one series, a real sample, a
    // marker, another real sample
    val wal = tmpDir("stream_marker_wal")
    val labels = Seq("__name__" -> "up", "job" -> "a")
    TsdbWalWriter.writeSegment(s"$wal/00000000", Iterator(
      TsdbWalWriter.seriesRecord(Seq(7L -> labels)),
      TsdbDbMergeSpec.rawSamples(Seq(
        (7L, 1000L, java.lang.Double.doubleToLongBits(1.0)),
        (7L, 2000L, TsdbSchema.StaleNaNBits),
        (7L, 3000L, java.lang.Double.doubleToLongBits(3.0))))))
    val db = tmpDir("stream_marker_db")
    assert(TsdbBlockWriter.compactWal(spark, wal, db).size == 1)
    val got = TsdbDb.read(spark, db).orderBy("time").collect()
      .map(r => (r.getLong(0), Option(r.get(1)))).toSeq
    assert(got == Seq((1000L, Some(1.0)), (2000L, None), (3000L, Some(3.0))))
    // and writeBlock keeps the marker's bits in the chunk
    val dir = s"${tmpDir("stream_marker_block")}/b"
    TsdbBlockWriter.writeBlock(dir, Seq(TsdbBlockWriter.SeriesData(labels,
      Array(1000L, 2000L), Array(1.0, Stale))))
    val back = spark.read.format("tsdb-block").load(dir).orderBy("time")
      .collect().map(r => Option(r.get(1))).toSeq
    assert(back == Seq(Some(1.0), None))
  }

  test("consecutive slices fill distinct tasks") {
    // three 2 h slices, one after another, on a 4-wide shuffle: each
    // must be encoded by a task of its own (a hash of the slice put two
    // of these in one task)
    val s = spark; import s.implicits._
    val first = 236112L
    val rows = for {
      slice <- first until first + 3
      k <- 0 until 20
      job <- Seq("a", "b")
    } yield (slice * 2 * Hour + k * 60000L, k.toDouble,
      Map("__name__" -> "m", "job" -> job))
    val df = rows.toDF("time", "value", "labels")
    assert(spark.sessionState.conf.numShufflePartitions == 4)
    val (names, seen) = JobProbe(spark)(
      TsdbBlockWriter.write(df, tmpDir("stream_placed"), 2 * Hour))
    assert(names.size == 3)
    assert(seen.shuffleReadingTasks == 3, seen)
  }

  test("write ≡ writeBlock byte for byte, on generated frames") {
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(24),
      Prop.forAllNoShrink(frameGen)(sameBlocks))
    assert(res.passed, res.status.toString)
  }

  /** Write `f` through [[TsdbBlockWriter.write]] and, slice by slice,
    * through [[TsdbBlockWriter.writeBlock]]; every file must match. */
  private def sameBlocks(f: GenFrame): Boolean = {
    val s = spark; import s.implicits._
    val streamed = tmpDir("stream_prop_a")
    val floats = f.floats.toDF("time", "value", "labels")
    val hists = f.hists.toDS()
    val names = TsdbBlockWriter.write(floats, streamed, Range,
      hists = Some(hists))
    val direct = tmpDir("stream_prop_b")
    val slices = (f.floats.map(_._1) ++ f.hists.map(_._2.time))
      .map(t => Math.floorDiv(t, Range)).distinct.sorted
    val names2 = slices.map { slice =>
      def in(t: Long) = Math.floorDiv(t, Range) == slice
      val fs = f.floats.filter(r => in(r._1)).groupBy(_._3)
      val hs = f.hists.filter(r => in(r._2.time)).groupBy(_._1)
      val series = (fs.keySet ++ hs.keySet).toSeq.map { l =>
        // equal timestamps in the order the sort gives them: markers,
        // then numbers ascending, then NaN
        val samples = fs.getOrElse(l, Nil).map(r => (r._1, r._2))
          .sortBy { case (t, v) =>
            (t, v.fold(0)(x => if (x.isNaN) 2 else 1), v.getOrElse(0.0))
          }
        TsdbBlockWriter.SeriesData(l.toSeq, samples.map(_._1).toArray,
          samples.map(_._2.getOrElse(Stale)).toArray,
          hs.getOrElse(l, Nil).map(_._2).sortBy(_.time))
      }
      val name = TsdbBlockWriter.deterministicUlid(s"$streamed/$slice")
      TsdbBlockWriter.writeBlock(s"$direct/$name", series,
        maxTimeCeil = Some((slice + 1) * Range))
      name
    }
    val ok = names.sorted == names2.sorted && names.forall { n =>
      Seq("chunks/000001", "index", "tombstones", "meta.json").forall { file =>
        java.util.Arrays.equals(
          Files.readAllBytes(Paths.get(streamed, n, file)),
          Files.readAllBytes(Paths.get(direct, n, file)))
      }
    }
    if (!ok) info(s"streamed $names vs direct $names2 differ on $f")
    ok
  }
}

object BlockWriteStreamSpec {
  val Stale: Double = java.lang.Double.longBitsToDouble(TsdbSchema.StaleNaNBits)
  private val Range = 1000L

  final case class GenFrame(
      floats: Seq[(Long, Option[Double], Map[String, String])],
      hists: Seq[(Map[String, String], WalReader.WalHistogram)])

  // values that stress the index order: NUL-bearing, above the BMP
  // (U+1F600 sorts after U+FFFD in UTF-8 bytes, before it in UTF-16),
  // the empty string, and values that are prefixes of each other
  private val values = Gen.oneOf("", "a", "a\u0000", "a\u0000b", "ab",
    "\u0000", "�", "😀", "😀x", "z")
  private val names = Gen.oneOf("job", "k", "ka", "�", "😀")

  /** Label sets drawn as growing prefixes of one name list, so some
    * are prefixes of others. */
  private val labelSets: Gen[Seq[Map[String, String]]] = for {
    ns <- Gen.listOfN(4, names).map(_.distinct)
    vs <- Gen.listOfN(ns.size, values)
    cut <- Gen.listOfN(3, Gen.choose(0, ns.size))
    metric <- Gen.oneOf("m", "m\u0000")
  } yield cut.distinct.map(c =>
    (ns.take(c) zip vs.take(c)).toMap + ("__name__" -> metric))

  // -0.0 is left out: Spark's double order calls it equal to 0.0, so a
  // series holding both at one timestamp has no one written order
  private val value: Gen[Option[Double]] = Gen.frequency(
    6 -> Gen.oneOf(1.0, 2.5, -3.0, 0.0, 1e300, Double.MinPositiveValue)
      .map(Some(_)),
    2 -> Gen.const(Some(Double.NaN)),
    2 -> Gen.const(None))

  private def histAt(time: Long, i: Int, float: Boolean) =
    WalReader.WalHistogram(0L, time, 0, 0, 0.0, i.toDouble, 4.0 + 2 * i,
      0.5 * i, Seq((0, 2.0 + i), (1, 2.0 + i)), Nil, Nil, float)

  val frameGen: Gen[GenFrame] = for {
    sets <- labelSets
    floats <- Gen.listOf(for {
      l <- Gen.oneOf(sets)
      // a small grid, so timestamps repeat inside a series
      t <- Gen.choose(-15L, 30L).map(_ * 100L)
      v <- value
    } yield (t, v, l))
    histSeries <- Gen.option(Gen.oneOf(sets).map(_ + ("h" -> "1")))
    histTimes <- Gen.listOf(Gen.choose(-15L, 30L).map(_ * 100L + 50L))
    float <- Gen.oneOf(false, true)
  } yield GenFrame(floats, histSeries.toSeq.flatMap(l =>
    histTimes.distinct.zipWithIndex.map { case (t, i) =>
      l -> histAt(t, i, float) }))
}
