package graft.sources.tsdbblock

import Binary.{BitReader, BitWriter}

/** Codec for Prometheus XOR chunks (Gorilla compression: Facebook's
  * "Gorilla: A Fast, Scalable, In-Memory Time Series Database", VLDB'15;
  * format per prometheus/tsdb chunkenc/xor.go, consumed by the reference
  * at hello.go:489-497 via `it.Next() == chunkenc.ValFloat`).
  *
  * Layout: uint16 BE sample count, then a MSB-first bit stream:
  *   t0: zigzag varint; v0: raw 64 bits.
  *   t1: uvarint delta; v1+: XOR scheme.
  *   t2+: delta-of-delta with prefix codes
  *        0 → dod=0, 10 → 14-bit, 110 → 17-bit, 1110 → 20-bit,
  *        1111 → raw 64-bit (signed, two's complement in window width).
  *   values: 0 → repeat; 10 → reuse leading/trailing window;
  *           11 → 5-bit leading, 6-bit sigbits (0 ⇒ 64), sig bits.
  */
object XorChunk {

  /** The XOR chunk's encoding byte in the chunks-segment framing. */
  val EncXor = 1

  /** Decode all samples of one XOR chunk data payload into parallel
    * arrays (timestamps ms, values). */
  def decode(data: Array[Byte]): (Array[Long], Array[Double]) = {
    val num = ((data(0) & 0xff) << 8) | (data(1) & 0xff)
    val ts = new Array[Long](num)
    val vs = new Array[Double](num)
    if (num == 0) return (ts, vs)
    val r = new BitReader(data, 2)

    var t = r.varint()
    var vBits = r.readBits(64)
    ts(0) = t; vs(0) = java.lang.Double.longBitsToDouble(vBits)
    if (num == 1) return (ts, vs)

    var tDelta = r.uvarint()
    t += tDelta
    var leading = 0; var trailing = 0
    def readValue(): Unit = {
      if (r.readBit() == 1) {
        if (r.readBit() == 1) {
          leading = r.readBits(5).toInt
          var sig = r.readBits(6).toInt
          if (sig == 0) sig = 64
          trailing = 64 - leading - sig
        }
        val sig = 64 - leading - trailing
        val bits = r.readBits(sig)
        vBits ^= bits << trailing
      }
    }
    readValue()
    ts(1) = t; vs(1) = java.lang.Double.longBitsToDouble(vBits)

    var i = 2
    while (i < num) {
      // delta-of-delta prefix
      var dod = 0L
      if (r.readBit() == 1) {
        val sz =
          if (r.readBit() == 0) 14
          else if (r.readBit() == 0) 17
          else if (r.readBit() == 0) 20
          else 64
        var bits = r.readBits(sz)
        if (sz != 64 && bits > (1L << (sz - 1))) bits -= (1L << sz)
        dod = bits
      }
      tDelta += dod
      t += tDelta
      readValue()
      ts(i) = t; vs(i) = java.lang.Double.longBitsToDouble(vBits)
      i += 1
    }
    (ts, vs)
  }

  /** Encode one chunk's samples (≤ 65535; callers cap at 120). Values
    * are written as their RAW bits, so a staleness marker
    * ([[graft.tsdb.TsdbSchema.StaleNaNBits]]) stays one on disk and on
    * the wire, not an ordinary NaN. */
  def encode(ts: Array[Long], vs: Array[Double]): Array[Byte] = {
    val num = ts.length
    require(num == vs.length && num <= 0xffff, s"bad chunk size $num")
    val w = new BitWriter
    w.writeByte((num >> 8) & 0xff); w.writeByte(num & 0xff)
    if (num == 0) return w.toBytes

    w.varint(ts(0))
    w.writeBits(java.lang.Double.doubleToRawLongBits(vs(0)), 64)
    if (num == 1) return w.toBytes

    var leading = -1; var trailing = 0 // -1 ⇒ no reusable window yet
    var prevBits = java.lang.Double.doubleToRawLongBits(vs(0))
    def writeValue(v: Double): Unit = {
      val bits = java.lang.Double.doubleToRawLongBits(v)
      val xor = prevBits ^ bits
      prevBits = bits
      if (xor == 0) w.writeBit(0)
      else {
        w.writeBit(1)
        var lead = java.lang.Long.numberOfLeadingZeros(xor)
        val trail = java.lang.Long.numberOfTrailingZeros(xor)
        if (lead > 31) lead = 31 // 5-bit field
        if (leading != -1 && lead >= leading && trail >= trailing) {
          // reuse the previous window
          w.writeBit(0)
          w.writeBits(xor >>> trailing, 64 - leading - trailing)
        } else {
          leading = lead; trailing = trail
          val sig = 64 - leading - trailing
          w.writeBit(1)
          w.writeBits(leading.toLong, 5)
          // 6-bit sigbits field: 64 is stored as 0 (decoder: 0 ⇒ 64)
          w.writeBits(if (sig == 64) 0L else sig.toLong, 6)
          w.writeBits(xor >>> trailing, sig)
        }
      }
    }

    var tDelta = ts(1) - ts(0)
    require(tDelta >= 0, "chunk timestamps must be sorted")
    w.uvarint(tDelta)
    writeValue(vs(1))

    var i = 2
    while (i < num) {
      val nd = ts(i) - ts(i - 1)
      val dod = nd - tDelta
      tDelta = nd
      // prefix-coded delta-of-delta windows per xor.go bitRange:
      // n-bit window holds -((1<<(n-1))-1) .. 1<<(n-1)
      def inRange(n: Int): Boolean =
        -((1L << (n - 1)) - 1) <= dod && dod <= (1L << (n - 1))
      if (dod == 0) w.writeBit(0)
      else if (inRange(14)) { w.writeBits(0x2, 2); w.writeBits(dod & 0x3fff, 14) }
      else if (inRange(17)) { w.writeBits(0x6, 3); w.writeBits(dod & 0x1ffff, 17) }
      else if (inRange(20)) { w.writeBits(0xe, 4); w.writeBits(dod & 0xfffff, 20) }
      else { w.writeBits(0xf, 4); w.writeBits(dod, 64) }
      writeValue(vs(i))
      i += 1
    }
    w.toBytes
  }
}
