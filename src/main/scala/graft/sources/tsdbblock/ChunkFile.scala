package graft.sources.tsdbblock

import java.io.{BufferedOutputStream, RandomAccessFile}
import java.nio.file.{Files, Paths}
import Binary.{ByteReader, ByteWriter}

/** The chunks-segment format of a block directory (public format doc:
  * prometheus/tsdb/docs/format/chunks.md): files `chunks/000001`, …
  * that open with magic 0x85BD40DD, version 1 and 3 pad bytes, then
  * hold chunks framed as `len uvarint | encoding byte | data |
  * CRC32-Castagnoli over encoding + data`. A chunk ref is
  * `segment << 32 | offset of the len`; the segment index is zero-based
  * where the file names are one-based. */
object ChunkFile {

  /** The file of zero-based segment `segment` in `blockDir`. */
  def path(blockDir: String, segment: Int): String =
    f"$blockDir/chunks/${segment + 1}%06d"

  /** A chunk ref is `segment << 32 | offset` and every chunk goes to
    * segment 0, so an offset past 32 bits would spill into the segment
    * field and point the index at the wrong file — refuse it instead. */
  private[sources] def chunkRef(offset: Long): Long = {
    require(offset <= 0xFFFFFFFFL,
      s"chunk offset $offset exceeds the 4 GiB a single chunks segment " +
        "can address; write smaller blocks (a shorter block range)")
    offset
  }

  /** Streams chunks into a block's one segment, `chunks/000001`. */
  final class Writer(blockDir: String) extends AutoCloseable {
    Files.createDirectories(Paths.get(blockDir, "chunks"))
    private val out = new BufferedOutputStream(
      Files.newOutputStream(Paths.get(path(blockDir, 0))), 1 << 20)
    private val frame = new ByteWriter
    private var offset = 0L
    frame.be32(0x85bd40ddL); frame.u8(1); frame.u8(0); frame.u8(0); frame.u8(0)
    flush()

    private def flush(): Unit = {
      frame.writeTo(out); offset += frame.size; frame.reset()
    }

    /** Append one chunk; returns its ref. */
    def put(encoding: Int, data: Array[Byte]): Long = {
      val ref = chunkRef(offset)
      frame.uvarint(data.length.toLong)
      val from = frame.size
      frame.u8(encoding); frame.bytes(data)
      frame.be32(frame.crc32c(from))
      flush()
      ref
    }

    override def close(): Unit = out.close()
  }

  /** Fetches chunks of one block by ref, opening each segment file once;
    * `close` closes them all, once. */
  final class Reader(blockDir: String) extends AutoCloseable {
    private val files = scala.collection.mutable.Map.empty[Int, RandomAccessFile]
    private val head = new Array[Byte](8)

    /** Chunk `c`'s encoding byte and, when `want(encoding)`, its data —
      * else null: an unwanted chunk's payload is never read. */
    def fetch(c: IndexReader.ChunkRef)(want: Int => Boolean): (Int, Array[Byte]) = {
      val f = files.getOrElseUpdate(c.segment,
        new RandomAccessFile(path(blockDir, c.segment), "r"))
      f.seek(c.offset)
      // uvarint len (≤ 5 bytes for 32-bit sizes) + encoding byte: a small
      // header window first (every chunk frame spans ≥ 8 bytes), then
      // exactly the rest of the payload
      f.readFully(head)
      val hr = new ByteReader(head, 0)
      val len = hr.uvarint().toInt
      val enc = hr.u8()
      if (!want(enc)) return (enc, null)
      val data = new Array[Byte](len)
      val fromHead = math.min(len, head.length - hr.pos)
      System.arraycopy(head, hr.pos, data, 0, fromHead)
      if (fromHead < len) f.readFully(data, fromHead, len - fromHead)
      (enc, data)
    }

    override def close(): Unit = { files.values.foreach(_.close()); files.clear() }
  }
}
