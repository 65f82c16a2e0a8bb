package graft.sources.tsdbblock

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** The block-index cache keeps at most its byte budget of parsed
  * series: least recently used blocks go first, and a block over the
  * budget on its own is answered but not kept. */
class BlockIndexCacheSpec extends AnyFunSuite {

  /** A block of `n` series with one chunk each; returns its directory. */
  private def block(root: File, name: String, n: Int): String = {
    val dir = new File(root, name).getPath
    TsdbBlockWriter.writeBlock(dir, (0 until n).map(i =>
      TsdbBlockWriter.SeriesData(Seq("__name__" -> "m", "i" -> s"$name-$i"),
        Array(1000L, 2000L), Array(1.0, 2.0))))
    dir
  }

  private def charge(dir: String): Long =
    BlockIndexCache.bytesOf(IndexReader.read(s"$dir/index"))

  test("evicts the least recently used blocks once over the byte budget") {
    val root = java.nio.file.Files.createTempDirectory("bic").toFile
    val Seq(a, b, c) = Seq("a", "b", "c").map(block(root, _, 50))
    val each = charge(a)
    assert(charge(b) == each && charge(c) == each)
    val cache = new BlockIndexCache(2 * each + each / 2)
    def held = cache.cachedPaths.map(p => new File(p).getParentFile.getName)

    val ea = cache.get(a)
    val eb = cache.get(b)
    assert(held == Seq("a", "b"))
    assert(cache.get(a) eq ea) // a hit: no re-parse, now most recent
    assert(held == Seq("b", "a"))
    cache.get(c) // three blocks exceed the budget: b goes
    assert(held == Seq("a", "c"))
    assert(!(cache.get(b) eq eb)) // b parses again, and a goes
    assert(held == Seq("c", "b"))
    assert(cache.get(b).series.size == 50)
  }

  test("a block over the budget on its own is answered but not kept") {
    val root = java.nio.file.Files.createTempDirectory("bic").toFile
    val small = block(root, "small", 5)
    val big = block(root, "big", 200)
    val cache = new BlockIndexCache(charge(big) - 1)
    cache.get(small)
    val e = cache.get(big)
    assert(e.series.size == 200 && e.facts.range == Some((1000L, 2000L)))
    assert(cache.cachedPaths.isEmpty)
    cache.get(small)
    assert(cache.cachedPaths == Seq(s"$small/index"))
  }

  test("a changed index parses again") {
    val root = java.nio.file.Files.createTempDirectory("bic").toFile
    val a = block(root, "a", 3)
    val cache = new BlockIndexCache(Long.MaxValue)
    val e = cache.get(a)
    assert(cache.get(a) eq e)
    assert(new File(a, "index").setLastModified(
      new File(a, "index").lastModified() - 10000))
    assert(!(cache.get(a) eq e))
  }
}
