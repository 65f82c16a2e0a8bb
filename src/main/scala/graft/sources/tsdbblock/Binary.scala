package graft.sources.tsdbblock

/** The byte and bit codecs of the Prometheus TSDB on-disk formats
  * (public format docs: prometheus/tsdb/docs/format/{index,chunks,
  * tombstones,wal}.md; the reference consumes these via the prometheus
  * library — SURVEY.md §2.1 S1/S2, hello.go:50-74), the counterpart of
  * Prometheus's `tsdb/encoding` `Encbuf`/`Decbuf`.
  */
object Binary {

  /** CRC32-Castagnoli, the checksum Prometheus uses throughout. */
  def crc32c(b: Array[Byte], from: Int, len: Int): Long = {
    val c = new java.util.zip.CRC32C
    c.update(b, from, len)
    c.getValue
  }

  /** Growable byte buffer writing what [[ByteReader]] reads. */
  final class ByteWriter extends java.io.ByteArrayOutputStream {
    def u8(v: Int): Unit = write(v & 0xff)
    def be16(v: Int): Unit = { u8(v >>> 8); u8(v) }
    def be32(v: Long): Unit = {
      u8((v >>> 24).toInt); u8((v >>> 16).toInt); u8((v >>> 8).toInt); u8(v.toInt)
    }
    def be64(v: Long): Unit = { be32(v >>> 32); be32(v) }
    /** LEB128 unsigned varint (Go binary.PutUvarint). */
    def uvarint(v: Long): Unit = {
      var x = v
      while ((x & ~0x7fL) != 0) { write(((x & 0x7f) | 0x80).toInt); x >>>= 7 }
      write(x.toInt)
    }
    /** Zigzag signed varint (Go binary.PutVarint). */
    def varint(v: Long): Unit = uvarint((v << 1) ^ (v >> 63))
    def bytes(b: Array[Byte]): Unit = write(b, 0, b.length)
    /** A uvarint-length-prefixed UTF-8 string. */
    def str(s: String): Unit = {
      val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      uvarint(b.length.toLong); bytes(b)
    }
    /** [[crc32c]] of the bytes written from position `from` on. */
    def crc32c(from: Int = 0): Long = Binary.crc32c(buf, from, count - from)
  }

  /** Byte-cursor over an array with Go-style varint decoding. */
  final class ByteReader(val buf: Array[Byte], var pos: Int) {
    def u8(): Int = { val b = buf(pos) & 0xff; pos += 1; b }

    def be32(): Long = {
      val v = ((buf(pos) & 0xffL) << 24) | ((buf(pos + 1) & 0xffL) << 16) |
        ((buf(pos + 2) & 0xffL) << 8) | (buf(pos + 3) & 0xffL)
      pos += 4; v
    }

    def be64(): Long = { val v = be32() << 32 | be32(); v }

    /** LEB128 unsigned varint (Go binary.Uvarint). */
    def uvarint(): Long = {
      var x = 0L; var shift = 0
      var b = u8()
      while ((b & 0x80) != 0) {
        x |= (b & 0x7fL) << shift; shift += 7; b = u8()
      }
      x | ((b & 0x7fL) << shift)
    }

    /** Zigzag signed varint (Go binary.Varint). */
    def varint(): Long = {
      val u = uvarint()
      (u >>> 1) ^ -(u & 1)
    }

    def bytes(n: Int): Array[Byte] = {
      val out = java.util.Arrays.copyOfRange(buf, pos, pos + n)
      pos += n; out
    }

    def skip(n: Int): Unit = pos += n
  }

  /** MSB-first bit reader (Prometheus bstream). */
  final class BitReader(buf: Array[Byte], startByte: Int) {
    private var bytePos = startByte
    private var bitPos = 0 // bits consumed in current byte, 0..7

    def readBit(): Int = {
      val bit = (buf(bytePos) >> (7 - bitPos)) & 1
      bitPos += 1
      if (bitPos == 8) { bitPos = 0; bytePos += 1 }
      bit
    }

    /** n ≤ 64 bits, MSB first, as unsigned in a Long. */
    def readBits(n: Int): Long = {
      var v = 0L; var i = 0
      while (i < n) { v = (v << 1) | readBit(); i += 1 }
      v
    }

    /** One byte from the bit stream (used by varint-in-bitstream). */
    def readByte(): Int = readBits(8).toInt

    def uvarint(): Long = {
      var x = 0L; var shift = 0
      var b = readByte()
      while ((b & 0x80) != 0) {
        x |= (b & 0x7fL) << shift; shift += 7; b = readByte()
      }
      x | ((b & 0x7fL) << shift)
    }

    def varint(): Long = { val u = uvarint(); (u >>> 1) ^ -(u & 1) }

    /** Prometheus varbit SIGNED int (chunkenc/varbit.go): prefix-coded
      * bit buckets sized for histogram bucket dod's —
      * `0`→0; `10`+3b; `110`+6b; `1110`+9b; `11110`+12b; `111110`+18b;
      * `1111110`+25b; `11111110`+56b; `11111111`+64b raw. An n-bit
      * window holds `[-(2^(n-1)-1), 2^(n-1)]` (same two's-complement
      * windowing as the XOR chunk's dod fields). */
    def varbitInt(): Long = {
      var n = 0
      while (n < 8 && readBit() == 1) n += 1
      n match {
        case 0 => 0L
        case 8 => readBits(64)
        case _ =>
          val sz = VarbitBits(n)
          var v = readBits(sz)
          if (v > (1L << (sz - 1))) v -= (1L << sz)
          v
      }
    }

    /** Prometheus varbit UNSIGNED int — the same prefix buckets, value
      * ranges `[0, 2^n - 1]`. */
    def varbitUint(): Long = {
      var n = 0
      while (n < 8 && readBit() == 1) n += 1
      n match {
        case 0 => 0L
        case 8 => readBits(64)
        case _ => readBits(VarbitBits(n))
      }
    }
  }

  /** Value-bit widths of the varbit prefix buckets (index = number of
    * leading 1-bits in the prefix, 1-based; 0 ⇒ value 0, 8 ⇒ raw 64). */
  private[tsdbblock] val VarbitBits = Array(0, 3, 6, 9, 12, 18, 25, 56)

  /** MSB-first bit writer (inverse of [[BitReader]]; Prometheus
    * bstream). Shared by the XOR and histogram chunk encoders. */
  final class BitWriter {
    private val buf = new java.io.ByteArrayOutputStream()
    private var cur = 0
    private var nBits = 0 // bits used in cur, 0..7

    def writeBit(b: Int): Unit = {
      cur = (cur << 1) | (b & 1)
      nBits += 1
      if (nBits == 8) { buf.write(cur); cur = 0; nBits = 0 }
    }
    /** n ≤ 64 bits of v, MSB first — byte-at-a-time (a per-bit loop
      * costs ~8× on the 64-bit first-value and raw-dod paths). */
    def writeBits(v: Long, n: Int): Unit = {
      var rem = n
      while (rem > 0) {
        val take = math.min(8 - nBits, rem)
        val bits = ((v >>> (rem - take)) & ((1L << take) - 1)).toInt
        cur = (cur << take) | bits
        nBits += take
        if (nBits == 8) { buf.write(cur); cur = 0; nBits = 0 }
        rem -= take
      }
    }
    def writeByte(b: Int): Unit = writeBits(b.toLong & 0xff, 8)
    def uvarint(v: Long): Unit = {
      var x = v
      while ((x & ~0x7fL) != 0) { writeByte(((x & 0x7f) | 0x80).toInt); x >>>= 7 }
      writeByte(x.toInt)
    }
    def varint(v: Long): Unit = uvarint((v << 1) ^ (v >> 63))

    /** varbit signed writer — see [[BitReader.varbitInt]]. */
    def varbitInt(v: Long): Unit = {
      if (v == 0L) { writeBit(0); return }
      var n = 1
      while (n < 8 &&
        !(-((1L << (VarbitBits(n) - 1)) - 1) <= v &&
          v <= (1L << (VarbitBits(n) - 1)))) n += 1
      var i = 0
      while (i < n) { writeBit(1); i += 1 }
      if (n == 8) writeBits(v, 64)
      else {
        writeBit(0)
        val sz = VarbitBits(n)
        writeBits(v & ((1L << sz) - 1), sz)
      }
    }

    /** varbit unsigned writer — see [[BitReader.varbitUint]]. */
    def varbitUint(v: Long): Unit = {
      if (v == 0L) { writeBit(0); return }
      var n = 1
      while (n < 8 && java.lang.Long.compareUnsigned(v, 1L << VarbitBits(n)) >= 0)
        n += 1
      var i = 0
      while (i < n) { writeBit(1); i += 1 }
      if (n == 8) writeBits(v, 64)
      else { writeBit(0); writeBits(v, VarbitBits(n)) }
    }

    /** Flush a partial byte (zero-padded low bits) and return contents. */
    def toBytes: Array[Byte] = {
      if (nBits > 0) { buf.write(cur << (8 - nBits)); cur = 0; nBits = 0 }
      buf.toByteArray
    }
  }
}
