package graft.sources.tsdbblock

import java.nio.file.{Files, Paths, StandardCopyOption}
import Binary.{ByteReader, ByteWriter}

/** Reader/writer for the Prometheus TSDB tombstones file — the deletion
  * markers a block carries until the next compaction rewrites it
  * (public format doc: prometheus/tsdb/docs/format/tombstones.md; the
  * reference's blocks ship this file, empty, next to index/chunks —
  * SURVEY.md §2.1 S1, hello.go:50-74 opens blocks that contain it).
  *
  * File layout: magic 0x0130BA30 (BE32), version 1, then a flat run of
  * stones — each `series ref uvarint64 | mint varint64 | maxt varint64`
  * — and finally a CRC32-Castagnoli over the stones bytes. Intervals
  * are INCLUSIVE on both ends (Prometheus `Interval.InBounds`:
  * `mint ≤ t ≤ maxt`); a series may carry several stones.
  *
  * Scale note: tombstones are index-sized metadata (a few bytes per
  * deleted series), never sample-sized — both read and write are
  * driver-side, like the index walk that plans a block scan.
  */
object Tombstones {

  /** Inclusive deleted interval: samples with mint ≤ t ≤ maxt are gone. */
  final case class Interval(mint: Long, maxt: Long)

  private val Magic = 0x0130ba30L

  /** Parse a tombstones file into ref → merged, sorted intervals.
    * Missing file ≡ empty (older blocks may lack it). */
  def read(path: String): Map[Long, Seq[Interval]] = {
    val p = Paths.get(path)
    if (!Files.isRegularFile(p)) return Map.empty
    val buf = Files.readAllBytes(p)
    require(buf.length >= 9, s"tombstones file too short: $path")
    val r = new ByteReader(buf, 0)
    require(r.be32() == Magic, s"not a tombstones file: $path")
    val version = r.u8()
    require(version == 1, s"unsupported tombstones version $version")
    val stored = new ByteReader(buf, buf.length - 4).be32()
    require(Binary.crc32c(buf, 5, buf.length - 9) == stored,
      s"tombstones checksum mismatch: $path")
    val out = scala.collection.mutable.Map
      .empty[Long, List[Interval]].withDefaultValue(Nil)
    while (r.pos < buf.length - 4) {
      val ref = r.uvarint()
      val mint = r.varint()
      val maxt = r.varint()
      out(ref) = Interval(mint, maxt) :: out(ref)
    }
    out.iterator.map { case (ref, ivs) => ref -> merge(ivs) }.toMap
  }

  /** Write (replacing) a tombstones file. Intervals are merged per ref
    * so the on-disk form is canonical regardless of delete order. The
    * file is replaced atomically (written as `tombstones.tmp`, then
    * renamed over it, as Prometheus's `fileutil.Replace` does): a scan
    * planning concurrently reads the old stones or the new, never a
    * short file. */
  def write(path: String, stones: Map[Long, Seq[Interval]]): Unit = {
    val w = new ByteWriter
    w.be32(Magic); w.u8(1)
    stones.toSeq.sortBy(_._1).foreach { case (ref, ivs) =>
      merge(ivs).foreach { iv =>
        w.uvarint(ref); w.varint(iv.mint); w.varint(iv.maxt)
      }
    }
    w.be32(w.crc32c(5))
    val tmp = Paths.get(s"$path.tmp")
    try {
      Files.write(tmp, w.toByteArray)
      Files.move(tmp, Paths.get(path), StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    } catch { case t: Throwable => Files.deleteIfExists(tmp); throw t }
  }

  /** Union two stone maps (delete-on-top-of-delete). */
  def union(a: Map[Long, Seq[Interval]],
            b: Map[Long, Seq[Interval]]): Map[Long, Seq[Interval]] =
    (a.keySet ++ b.keySet).iterator.map { ref =>
      ref -> merge(a.getOrElse(ref, Nil) ++ b.getOrElse(ref, Nil))
    }.toMap

  /** Sort + coalesce overlapping/adjacent inclusive intervals. */
  def merge(ivs: Seq[Interval]): Seq[Interval] = {
    if (ivs.sizeIs <= 1) return ivs.toList
    val sorted = ivs.sortBy(iv => (iv.mint, iv.maxt))
    val out = scala.collection.mutable.ListBuffer(sorted.head)
    sorted.tail.foreach { iv =>
      val last = out.last
      // adjacency on an inclusive integer grid: [1,2] + [3,4] = [1,4]
      if (iv.mint <= last.maxt + 1 && last.maxt != Long.MaxValue)
        out(out.length - 1) = Interval(last.mint, math.max(last.maxt, iv.maxt))
      else if (iv.mint <= last.maxt) () // fully inside a MaxValue-capped stone
      else out += iv
    }
    out.toList
  }

  /** Is t inside any (merged, sorted) interval? Linear — stone lists are
    * tiny (one per delete call, merged). */
  def deleted(ivs: Seq[Interval], t: Long): Boolean = {
    var i = 0
    while (i < ivs.length) {
      val iv = ivs(i)
      if (t < iv.mint) return false
      if (t <= iv.maxt) return true
      i += 1
    }
    false
  }
}
