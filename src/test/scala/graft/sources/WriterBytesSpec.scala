package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import graft.SparkSpec
import graft.sources.tsdbblock._
import org.apache.spark.sql.functions._

/** Pins the exact bytes the TSDB writers put on disk, without the
  * reference fixture: a small seeded data directory — two blocks from
  * [[TsdbBlockWriter.write]] (a staleness marker, one native-histogram
  * series, a tombstones file from [[Tombstones.write]] on one of them)
  * and a WAL from every [[TsdbWalWriter]] entry point — is hashed file
  * by file. The one path-derived field, the block ULID in `meta.json`
  * (and the directory it names), is masked. A change to any codec that
  * moves a byte fails here. */
class WriterBytesSpec extends SparkSpec {
  import WriterBytesSpec._

  private val Hour = 3600L * 1000
  private val Base = 236112L * 2 * Hour // a 2 h slice boundary

  /** Relative path → SHA-256 of every file under `root`; each block
    * directory is renamed `block<k>` by its rank in name-independent
    * order (its meta.json minTime), and its ULID masked in meta.json. */
  private def digests(root: String): Map[String, String] = {
    val rootP = Paths.get(root)
    val blocks = Option(rootP.toFile.listFiles()).getOrElse(Array.empty)
      .filter(f => new java.io.File(f, "meta.json").isFile)
      .map(f => f.getName -> BlockMeta.read(f.getPath).minTime)
      .sortBy(_._2).map(_._1).zipWithIndex.toMap
    val files = Files.walk(rootP)
    try {
      import scala.jdk.CollectionConverters._
      files.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
        val rel = rootP.relativize(p)
        val top = rel.getName(0).toString
        val bytes = blocks.get(top).fold(Files.readAllBytes(p)) { _ =>
          val raw = Files.readAllBytes(p)
          if (p.getFileName.toString != "meta.json") raw
          else new String(raw, UTF_8).replace(top, "ULID").getBytes(UTF_8)
        }
        val name = blocks.get(top).fold(rel.toString)(k =>
          (Paths.get(s"block$k") +: (1 until rel.getNameCount)
            .map(rel.getName)).reduce((a: Path, b: Path) => a.resolve(b))
            .toString)
        name -> sha256(bytes)
      }.toMap
    } finally files.close()
  }

  test("the block, tombstones and WAL writers' bytes are pinned") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(20261020L)
    val series = Seq(
      Map("__name__" -> "up", "job" -> "a"),
      Map("__name__" -> "up", "job" -> "b"),
      Map("__name__" -> "mem", "job" -> "a", "zone" -> "é"))
    // 30 s scrapes over two 2 h slices: two blocks, two chunks per series
    // per block; one sample is a staleness marker (a NULL value)
    val floats = for {
      (labels, si) <- series.zipWithIndex
      k <- 0 until 480
    } yield (Base + k * 30000L + si * 1000L,
      if (si == 1 && k == 300) None else Some(math.rint(rnd.nextDouble() * 1e4) / 100),
      labels)
    val db = tmpDir("writer_bytes_db")
    val hists = (0 until 12).map { k =>
      val c = (k + 1).toDouble
      Map("__name__" -> "lat", "job" -> "a") ->
        WalReader.WalHistogram(0L, Base + k * 1200000L, 0, 0, 0.0, c,
          4 * c, 2.5 * c, Seq((0, c), (1, 2 * c), (3, c)), Nil, Nil, false)
    }
    val names = TsdbBlockWriter.write(
      floats.toDF("time", "value", "labels"), db,
      hists = Some(spark.createDataset(hists)))
    assert(names.size == 2)
    // stones on two series of the first block, one with two intervals
    val first = names.minBy(n => BlockMeta.read(s"$db/$n").minTime)
    val refs = IndexReader.read(s"$db/$first/index").map(_.ref).sorted
    Tombstones.write(s"$db/$first/tombstones", Map(
      refs(0) -> Seq(Tombstones.Interval(Base + 60000L, Base + 120000L)),
      refs(2) -> Seq(Tombstones.Interval(Base, Base + 30000L),
        Tombstones.Interval(Base + 600000L, Base + 900000L))))

    // the WAL: samples (a marker among them), histograms, exemplars,
    // metadata and stones, each through its public writer
    val wal = s"$db/wal"
    val recent = for {
      (labels, si) <- series.zipWithIndex
      k <- 0 until 200
    } yield (Base + 4 * Hour + k * 15000L + si,
      if (si == 0 && k == 150) None else Some(math.rint(rnd.nextDouble() * 1e4) / 100),
      labels)
    assert(TsdbWalWriter.write(recent.toDF("time", "value", "labels"), wal,
      partitions = 2) == 2)
    val dense = (0 until 6).map { k =>
      val c = Seq(1.0, k.toDouble, 2.0 * k, 0.0, 1.0, 0.0)
      (Base + 4 * Hour + k * 60000L,
        Map("__name__" -> "lat", "job" -> (if (k % 2 == 0) "a" else "b")),
        (c.sum, 1.5 * k, c))
    }.toDF("time", "labels", "h")
      .select(col("time"), col("labels"), struct(
        col("h._1").as("count"), col("h._2").as("sum"),
        array(lit(0.0), lit(1.0), lit(2.0), lit(4.0), lit(8.0),
          lit(Double.PositiveInfinity)).as("les"),
        col("h._3").as("counts")).as("hist"))
    assert(TsdbWalWriter.writeHistograms(dense, wal, schemaId = 0,
      minExp = 0, maxExp = 3, float = false) == 2)
    val ex = recent.filter(_._3("job") == "a").take(40)
      .collect { case (t, Some(v), labels) =>
        (t, v, labels, Map("trace_id" -> f"${t % 9973}%04x"))
      }.toDF("time", "value", "labels", "exemplar")
    assert(TsdbWalWriter.writeExemplars(ex, wal, partitions = 1) == 40L)
    assert(TsdbWalWriter.writeMetadata(wal, Map(
      "up" -> ((2, "", "is it up")),
      "mem" -> ((2, "bytes", "resident memory")))) == 3)
    val walRefs = WalReader.seriesDict(wal).keys.toSeq.sorted
    TsdbWalWriter.writeStones(wal, Seq(
      (walRefs(0), Base + 4 * Hour, Base + 4 * Hour + 60000L),
      (walRefs(1), Base + 5 * Hour, Long.MaxValue)))

    val got = digests(db)
    assert(got == Expected, got.toSeq.sorted
      .map { case (k, v) => s""""$k" -> "$v"""" }.mkString(",\n"))
  }
}

object WriterBytesSpec {
  private def sha256(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b)
      .map(x => f"${x & 0xff}%02x").mkString

  private val Expected: Map[String, String] = Map(
    "block0/chunks/000001" -> "d51d903757457bc4c226e009d02b9a9867e8e33590fd9f423283b9664d5ed64d",
    "block0/index" -> "c3310c703af2a8c9fd2c6c794d09f68bfe608e354056f6771c4966e6d76ab9df",
    "block0/meta.json" -> "a9319ff135f214474315e63cfccad3f957b54510f1d96e40577e55aaa22117f1",
    "block0/tombstones" -> "7bfa8bf335e69b5ddaf26c581165cd94e60b03c275700d9a96ad7c15ae933ab5",
    "block1/chunks/000001" -> "75daf7426195d2d718d7bbc6078b22f46e8b50cd74de7aa352be3167f829facf",
    "block1/index" -> "5ab78190018916e884cbc9416b231da5060819e02d20f0f6205f94718d37c3dd",
    "block1/meta.json" -> "400a202ebc57e3e8c8824a3ca4f9176855bf15aac289edc320109aebac52b9c2",
    "block1/tombstones" -> "abef5b6f54ecd8bf74c648edd3fd3f3044587f7f4539ad7eb283571b209914fb",
    "wal/00000000" -> "41bf33cc58fc1794398be1af422972a4c7b90f3adb03b9e3f3662f00ee2ff0fc",
    "wal/00000001" -> "44dfc9bed9a1ebed381d26fe8449034d16df4b97a8f6741343460652fe36aff0",
    "wal/00000002" -> "1306128b23244550f1882863343e9b93f62f115823d66cf5586ef776d6e10b6b",
    "wal/00000003" -> "7573641e1a9fdc105c059f5152e428c99085379dd24d76a7b0b59d1fcfadfeaf",
    "wal/00000004" -> "f6c06ddbd4e073ef510dbaeed803a72914230d84f1f337c21c60475accd78599",
    "wal/00000005" -> "ef2ed3cf917095f8008324058b3370139413fed1f0074f5df9bb1d86cc41f725",
    "wal/00000006" -> "ae32d6f517d88fd16f034da174ffda7e128bcdc4fbe797aef154024dc70f3399")
}
