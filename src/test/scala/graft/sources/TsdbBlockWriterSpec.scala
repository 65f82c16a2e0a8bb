package graft.sources

import graft.{ReferenceFixture, SparkSpec}
import graft.sources.tsdbblock.{IndexReader, TsdbBlockWriter, WalReader, XorChunk}
import org.apache.spark.sql.functions._

/** The block writer against the block reader: Gorilla chunk round
  * trips, whole-block round trips through the DataSource V2, and the
  * strongest check available without a live Prometheus — re-writing the
  * REFERENCE's own block and getting identical samples back through the
  * reader that is itself pinned against that block's meta.json. */
class TsdbBlockWriterSpec extends SparkSpec {

  test("XOR chunk encode ⇄ decode round-trips adversarial series") {
    val cases: Seq[(Array[Long], Array[Double])] = Seq(
      // constant value, regular interval (the all-zero-bit fast paths)
      ((0L until 100L).map(_ * 15000L).toArray, Array.fill(100)(42.0)),
      // irregular deltas spanning every dod window incl. raw-64
      (Array(0L, 10L, 20L, 40L, 8300L, 16000L, 90000L, 1100000L,
        1100001L, 9007199254740993L),
        Array(1.0, -1.0, 0.5, 0.5, Double.NaN, Double.PositiveInfinity,
          Double.NegativeInfinity, 1e-308, -0.0, 3.141592653589793)),
      // single sample / two samples
      (Array(123456789L), Array(0.25)),
      (Array(5L, 6L), Array(1.5, 1.5)),
      // values exercising window reuse then widening
      ((0L until 50L).map(i => i * 1000L).toArray,
        (0 until 50).map(i => 100.0 + i * 0.125).toArray))
    cases.foreach { case (ts, vs) =>
      val (dts, dvs) = XorChunk.decode(TsdbBlockWriter.encodeXorChunk(ts, vs))
      assert(dts.toSeq === ts.toSeq)
      assert(dvs.toSeq.map(java.lang.Double.doubleToLongBits(_)) ===
        vs.toSeq.map(java.lang.Double.doubleToLongBits(_)),
        "values must be BIT-exact (incl. NaN payloads and -0.0)")
    }
  }

  test("a chunk offset past 4 GiB is refused, never written as a corrupt " +
      "ref") {
    // the ref's high 32 bits are the segment index: 0xFFFFFFFF is the
    // last offset segment 0 can address
    assert(TsdbBlockWriter.chunkRef(0xFFFFFFFFL) === 0xFFFFFFFFL)
    val e = intercept[IllegalArgumentException] {
      TsdbBlockWriter.chunkRef(0x100000000L)
    }
    assert(e.getMessage.contains("4 GiB"), e.getMessage)
  }

  test("writeBlock → tsdb-block reader round-trips series exactly") {
    val dir = tmpDir("graft_blockw_")
    // 130 samples forces the 120-sample chunk split; labels unsorted on
    // purpose (writer must sort pairs and series per the format)
    val s1 = TsdbBlockWriter.SeriesData(
      Seq("job" -> "api", "__name__" -> "up"),
      (0L until 130L).map(_ * 1000L).toArray,
      (0 until 130).map(_.toDouble).toArray)
    val s2 = TsdbBlockWriter.SeriesData(
      Seq("__name__" -> "up", "job" -> "db"),
      Array(500L, 1500L), Array(1.0, 0.0))
    val (nSeries, nChunks, nSamples) =
      TsdbBlockWriter.writeBlock(dir, Seq(s1, s2))
    assert((nSeries, nChunks, nSamples) === ((2L, 3L, 132L)))

    // index structure: sorted series, sorted labels, chunk count split
    val entries = IndexReader.read(s"$dir/index")
    assert(entries.size === 2)
    assert(entries.map(_.labels) === Seq(
      Map("__name__" -> "up", "job" -> "api"),
      Map("__name__" -> "up", "job" -> "db")))
    assert(entries.head.chunks.size === 2)

    val got = spark.read.format("tsdb-block").load(dir)
      .select(col("time"), col("value"),
        col("labels")("job").as("job")).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    val want =
      (0L until 130L).map(i => (i * 1000L, i.toDouble, "api")).toSet ++
        Set((500L, 1.0, "db"), (1500L, 0.0, "db"))
    assert(got === want)

    // tombstones byte-identical to the format's empty file (the
    // reference block's own): magic 0x0130BA30 (BE32), version 1, no
    // entries, then the CRC32C of those no entries, which is 0
    val tomb = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "tombstones"))
    val empty = Seq(0x01, 0x30, 0xBA, 0x30, 0x01, 0x00, 0x00, 0x00, 0x00)
      .map(_.toByte)
    assert(tomb.toSeq === empty)
  }

  test("the index lists symbols and postings in UTF-8 byte order") {
    // U+1F600 is a surrogate pair in UTF-16 and so sorts BEFORE U+FFFD
    // in Java String order, but after it in UTF-8 byte order — the
    // order Prometheus binary-searches the symbol and postings tables in
    val (smiley, replacement) = ("\uD83D\uDE00", "\uFFFD")
    val dir = tmpDir("graft_blockw_utf8_")
    val series = Seq(smiley, replacement, "a").map(v =>
      TsdbBlockWriter.SeriesData(Seq("__name__" -> "m", "v" -> v),
        Array(1000L), Array(1.0)))
    TsdbBlockWriter.writeBlock(dir, series)

    import graft.sources.tsdbblock.Binary.ByteReader
    val buf = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "index"))
    val toc = new ByteReader(buf, buf.length - 52)
    val offsets = Seq.fill(6)(toc.be64().toInt)
    def str(r: ByteReader): String =
      new String(r.bytes(r.uvarint().toInt), java.nio.charset.StandardCharsets.UTF_8)
    val sym = new ByteReader(buf, offsets.head)
    sym.be32()
    val symbols = Seq.fill(sym.be32().toInt)(str(sym))
    val pot = new ByteReader(buf, offsets(5))
    pot.be32()
    val postings = Seq.fill(pot.be32().toInt) {
      assert(pot.uvarint() === 2L)
      val kv = (str(pot), str(pot))
      pot.uvarint()
      kv
    }
    val byteOrder = graft.tsdb.RemoteRead.utf8ByteOrder
    assert(symbols === Seq("__name__", "a", "m", "v", replacement, smiley))
    assert(symbols === symbols.sorted(byteOrder))
    assert(postings === Seq(("", ""), ("__name__", "m"), ("v", "a"),
      ("v", replacement), ("v", smiley)))

    val got = spark.read.format("tsdb-block").load(dir)
      .select(col("labels")("v")).collect().map(_.getString(0)).toSet
    assert(got === Set(smiley, replacement, "a"))
  }

  test("UTF-8 metric and label NAMES round-trip block and WAL storage") {
    // Prometheus 3 UTF-8 names: the index/WAL formats carry label
    // names as length-prefixed bytes, so dotted and non-ASCII NAMES
    // (not just values) must survive both tiers — the storage half of
    // the quoted-selector syntax ({"my.metric", "service.name"="api"}).
    val s = spark
    val labels = Map("__name__" -> "http.requests.总数",
      "service.name" -> "api", "data.center" -> "dc1")
    val dir = tmpDir("graft_utf8n_")
    TsdbBlockWriter.writeBlock(dir, Seq(TsdbBlockWriter.SeriesData(
      labels.toSeq, Array(1000L, 2000L), Array(1.0, 2.0))))
    val entries = IndexReader.read(s"$dir/index")
    assert(entries.map(_.labels) === Seq(labels))
    val back = s.read.format("tsdb-block").load(dir)
      .select(col("time"),
        element_at(col("labels"), "service.name").as("sn"),
        element_at(col("labels"), "__name__").as("n"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(back.toSet === Set((1000L, "api", "http.requests.总数"),
      (2000L, "api", "http.requests.总数")))
    // WAL tier: series records carry the same byte-faithful names
    val walDir = tmpDir("graft_utf8w_")
    import s.implicits._
    val long = Seq((1000L, 1.0, labels), (2000L, 2.0, labels))
      .toDF("time", "value", "labels")
    graft.sources.tsdbblock.TsdbWalWriter.write(long, walDir, partitions = 1)
    assert(WalReader.seriesDict(walDir).values.toSeq === Seq(labels))
    val wback = s.read.format("tsdb-wal").load(walDir)
      .select(col("time"),
        element_at(col("labels"), "data.center").as("dc"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(wback === Set((1000L, "dc1"), (2000L, "dc1")))
  }

  test("re-writing the reference block reproduces every sample") {
    assumeFixture(ReferenceFixture.Block)
    // reference block → our reader → our writer → our reader: the final
    // read must produce the identical (labels, time, value) multiset —
    // 154,529 samples over 767 series (counts pinned against meta.json
    // by TsdbBlockSourceSpec)
    val src = "/root/reference/01GW1T7K3E9F9R361GDPVH8NZF"
    val s = spark; import s.implicits._
    def canon(dir: String) =
      spark.read.format("tsdb-block").load(dir)
        .select(
          concat_ws(",", transform(array_sort(map_entries(col("labels"))),
            e => concat(e.getField("key"), lit("="), e.getField("value"))))
            .as("series"),
          col("time"), col("value"))
    val orig = canon(src)
    val series = orig
      .groupBy(col("series"))
      .agg(array_sort(collect_list(struct(col("time"), col("value"))))
        .as("samples"))
      .as[(String, Seq[(Long, Double)])]
      .collect()
      .map { case (key, samples) =>
        TsdbBlockWriter.SeriesData(
          key.split(",").toSeq.map { kv =>
            val i = kv.indexOf('='); (kv.take(i), kv.drop(i + 1))
          },
          samples.map(_._1).toArray, samples.map(_._2).toArray)
      }
    val dir = tmpDir("graft_blockrw_")
    val (nSeries, _, nSamples) =
      TsdbBlockWriter.writeBlock(dir, series.toSeq)
    assert(nSeries === 767L)
    assert(nSamples === 154529L)

    val a = orig.groupBy().agg(count(lit(1)).as("n"),
      sum(hash(col("series"), col("time"), col("value")).cast("long")).as("h"))
      .collect().head
    val b = canon(dir).groupBy().agg(count(lit(1)).as("n"),
      sum(hash(col("series"), col("time"), col("value")).cast("long")).as("h"))
      .collect().head
    assert(a === b, "content digest must survive the rewrite")
  }

  test("Spark write slices blocks by time range, each readable") {
    val s = spark; import s.implicits._
    val rows = (0 until 1000).map { i =>
      (i.toLong * 60000L, i / 10.0,
        Map("__name__" -> "m", "k" -> (i % 7).toString))
    }
    val df = rows.toDF("time", "value", "labels")
    val root = tmpDir("graft_blocks_")
    val names = TsdbBlockWriter.write(df, root, blockRangeMs = 2 * 3600 * 1000L)
    // 1000 minutes / 2h slices ⇒ 9 blocks
    assert(names.size === 9)
    assert(names.distinct.size === names.size)
    val back = names.map(n => spark.read.format("tsdb-block").load(s"$root/$n"))
      .reduce(_ unionByName _)
      .select(col("time"), col("value"), col("labels")("k").as("k"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    assert(back === rows.map(r => (r._1, r._2, r._3("k"))).toSet)
  }

  test("streamed Spark write is byte-identical to the in-memory writeBlock") {
    // round-20: write() no longer materializes every slice hashed to a
    // task (`it.toSeq.groupBy`) — rows arrive (slice, labelSortKey)-
    // sorted and STREAM into writeBlockPresorted one series at a time.
    // The block bytes must not change: the Spark-side sort key must
    // reproduce writeBlock's exact in-memory ordering. Label names and
    // values ABOVE THE BMP make this adversarial — U+1F600 sorts after
    // U+FFFD in UTF-8 bytes but before it in UTF-16, so a Java-ordered
    // key would swap series and break byte identity.
    val s = spark; import s.implicits._
    val exotic1 = "😀emoji" // U+1F600…
    val exotic2 = "�repl"        // U+FFFD…
    val hour = 3600 * 1000L
    val rows = (0 until 600).map { i =>
      (i.toLong * 60000L, i / 3.0,
        Map("__name__" -> "m", "k" -> (i % 5).toString,
          "x" -> (if (i % 2 == 0) exotic1 else exotic2),
          exotic1 -> "v1", exotic2 -> "v2"))
    }
    val root1 = tmpDir("graft_bytesA_")
    val names = TsdbBlockWriter.write(
      rows.toDF("time", "value", "labels"), root1, blockRangeMs = 2 * hour)
    assert(names.size === 5) // 600 min / 2 h
    // the same grouping by hand, through the materialized writeBlock
    val root2 = tmpDir("graft_bytesB_")
    val bySlice = rows.groupBy(r => r._1 / (2 * hour))
    val names2 = bySlice.toSeq.sortBy(_._1).map { case (slice, rs) =>
      val series = rs.groupBy(_._3).map { case (labels, srs) =>
        val samples = srs.map(r => (r._1, r._2)).sortBy(identity)
        TsdbBlockWriter.SeriesData(labels.toSeq,
          samples.map(_._1).toArray, samples.map(_._2).toArray)
      }.toSeq
      val name = TsdbBlockWriter.deterministicUlid(s"$root1/$slice")
      TsdbBlockWriter.writeBlock(s"$root2/$name", series,
        maxTimeCeil = Some((slice + 1) * 2 * hour))
      name
    }
    assert(names.sorted === names2.sorted)
    names.foreach { n =>
      Seq("chunks/000001", "index", "tombstones", "meta.json").foreach { f =>
        val a = java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(root1, n, f))
        val b = java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(root2, n, f))
        assert(java.util.Arrays.equals(a, b),
          s"$n/$f differs between streamed and materialized writers")
      }
    }
  }

  test("compactBlocks merges parents, applies tombstones, records lineage") {
    val s = spark; import s.implicits._
    val hour = 3600 * 1000L
    def mk(root: String, t0: Long): String = {
      val rows = (0 until 120).map { i =>
        (t0 + i * 60000L, i.toDouble,
          Map("__name__" -> "m", "job" -> (if (i % 2 == 0) "api" else "db")))
      }
      val names = TsdbBlockWriter.write(
        rows.toDF("time", "value", "labels"), root, blockRangeMs = 2 * hour)
      assert(names.size === 1)
      s"$root/${names.head}"
    }
    val b1 = mk(tmpDir("graft_cmp_a_"), 0L)
    val b2 = mk(tmpDir("graft_cmp_b_"), 2 * hour)
    // delete job=db from the first parent: compaction must make the
    // deletion physical (tombstones applied by the parent scan)
    val stoned = graft.tsdb.TsdbAdmin.deleteSeries(
      b1, Seq(graft.model.Matcher.Eq("job", "db")))
    assert(stoned === 1)

    val dest = tmpDir("graft_cmp_out_")
    val out = TsdbBlockWriter.compactBlocks(
      spark, Seq(b1, b2), dest, blockRangeMs = 4 * hour)
    assert(out.size === 1)
    val dir = s"$dest/${out.head}"

    // samples: parent-1 keeps only job=api; parent-2 keeps all
    val got = spark.read.format("tsdb-block").load(dir)
      .select(col("time"), col("value"), col("labels")("job").as("job"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    val want =
      (0 until 120).filter(_ % 2 == 0)
        .map(i => (i * 60000L, i.toDouble, "api")).toSet ++
      (0 until 120).map(i =>
        (2 * hour + i * 60000L, i.toDouble, if (i % 2 == 0) "api" else "db"))
        .toSet
    assert(got === want)

    // lineage: level = max parent + 1 = 2; sources = both parent ULIDs
    // (level-1 blocks are their own sources); parents = both descriptors
    val meta = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "meta.json")), java.nio.charset.StandardCharsets.UTF_8)
    assert(""""level"\s*:\s*2""".r.findFirstIn(meta).isDefined, meta)
    val pUlids = Seq(b1, b2).map(_.split('/').last)
    pUlids.foreach(u => assert(meta.contains(u), s"missing source/parent $u"))
    assert(""""parents"\s*:""".r.findFirstIn(meta).isDefined, meta)
    // fresh compacted tombstones file is empty (deletions now physical)
    assert(graft.sources.tsdbblock.Tombstones.read(s"$dir/tombstones") === Map.empty)

    // second level-up: compact the compacted block alone → level 3,
    // sources preserved (union of ORIGINAL level-1 sources)
    val dest2 = tmpDir("graft_cmp_out2_")
    val out2 = TsdbBlockWriter.compactBlocks(
      spark, Seq(dir), dest2, blockRangeMs = 4 * hour, deleteParents = true)
    val meta2 = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      s"$dest2/${out2.head}", "meta.json")), java.nio.charset.StandardCharsets.UTF_8)
    assert(""""level"\s*:\s*3""".r.findFirstIn(meta2).isDefined, meta2)
    pUlids.foreach(u => assert(meta2.contains(u), "original sources must survive"))
    assert(!new java.io.File(dir).exists, "deleteParents must remove the parent")
  }

  test("generated block names are PARSEABLE ULIDs (first char 0-7)") {
    // oklog/ulid.Parse — what Prometheus's blockDirs walks with —
    // returns ErrOverflow when the first base32 char exceeds '7' (26
    // chars encode 130 bits for a 128-bit value), and the block dir is
    // then silently SKIPPED by tsdb.OpenDBReadOnly (hello.go:51). Every
    // name we emit, including the salted-collision recompaction path,
    // must stay in the parseable range or written blocks become
    // invisible to the reference.
    def assertUlid(u: String): Unit = {
      assert(u.length === 26, u)
      assert(u.forall("0123456789ABCDEFGHJKMNPQRSTVWXYZ".contains(_)), u)
      assert(u.head <= '7', s"first char '${u.head}' overflows 128 bits: $u")
    }
    // direct derivation over many seeds: uniform draws would land ~75%
    // of first chars above '7', so 64 seeds make a regression certain
    (0 until 64).foreach { i =>
      assertUlid(TsdbBlockWriter.deterministicUlid(s"/some/root/$i"))
    }
    // the salted recompaction path: force a collision so write() walks
    // the `#salt` branch, then check every emitted name
    val sqlc = spark
    import sqlc.implicits._
    val root = tmpDir("graft_ulid_")
    val df = (0 until 10)
      .map(i => (i * 1000L, i.toDouble, Map("__name__" -> "m", "i" -> "x")))
      .toDF("time", "value", "labels")
    val first = TsdbBlockWriter.write(df, root, blockRangeMs = 3600000L)
    val second = TsdbBlockWriter.write(df, root, blockRangeMs = 3600000L)
    (first ++ second).foreach(assertUlid)
    assert(first.toSet.intersect(second.toSet).isEmpty,
      "salting must produce fresh names on collision")
  }
}
