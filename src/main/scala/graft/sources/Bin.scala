package graft.sources

import java.nio.charset.StandardCharsets.US_ASCII

/** The one place the media and container operators read and write bytes:
  * fixed-width integers in both byte orders, ASCII tags, ISO-BMFF box /
  * RIFF chunk / PNG chunk / JPEG marker-segment framing, CRC-32, and the
  * JPEG entropy layer (canonical Huffman tables, the stuffing bit writer,
  * the bit reader and the entropy-data unstuffer).
  *
  * The integer and tag readers do no bounds checks of their own: each
  * parser checks lengths first, under its own format's rules, and owns
  * every decision about what it accepts. The walkers (`boxes`,
  * `dhtTables`, `unstuff`, `segmentAt`) return None when their structure
  * runs past the bytes. Nothing here branches on which format or query it
  * serves.
  */
object Bin {

  def u16be(b: Array[Byte], o: Int): Int = ((b(o) & 0xff) << 8) | (b(o + 1) & 0xff)

  def u16le(b: Array[Byte], o: Int): Int = (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)

  def u32be(b: Array[Byte], o: Int): Long =
    ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
      ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)

  def u32le(b: Array[Byte], o: Int): Long =
    (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
      ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)

  /** The 4-byte ASCII tag at `o` (fourcc, chunk or box type). */
  def fourcc(b: Array[Byte], o: Int): String = new String(b, o, 4, US_ASCII)

  def crc32(b: Array[Byte]): Long = crc32(b, 0, b.length)

  def crc32(b: Array[Byte], off: Int, len: Int): Long = {
    val c = new java.util.zip.CRC32()
    c.update(b, off, len)
    c.getValue
  }

  /** zlib stream of `data` at the default level; raw DEFLATE when `nowrap`. */
  def deflate(data: Array[Byte], nowrap: Boolean = false): Array[Byte] = {
    val d = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION, nowrap)
    d.setInput(data); d.finish()
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  /** Fresh bytes from a writer program. */
  def bytes(body: Writer => Unit): Array[Byte] = {
    val w = new Writer
    body(w)
    w.result
  }

  /** Append-only byte writer. Integer writers keep the low bits of their
    * argument; framing writers size their payload themselves.
    */
  final class Writer {
    private val out = new java.io.ByteArrayOutputStream()

    def size: Int = out.size
    def result: Array[Byte] = out.toByteArray

    def u8(v: Int): Writer = { out.write(v & 0xff); this }
    def be16(v: Int): Writer = u8(v >> 8).u8(v)
    def be32(v: Long): Writer = be16((v >> 16).toInt).be16(v.toInt)
    def le16(v: Int): Writer = u8(v).u8(v >> 8)
    def le32(v: Long): Writer = le16(v.toInt).le16((v >> 16).toInt)
    def ascii(s: String): Writer = bytes(s.getBytes(US_ASCII))
    def bytes(a: Array[Byte]): Writer = bytes(a, 0, a.length)
    def bytes(a: Array[Byte], off: Int, len: Int): Writer = { out.write(a, off, len); this }
    def zeros(n: Int): Writer = bytes(new Array[Byte](n))

    /** ISO-BMFF box (14496-12 §4.2): BE32 size counting the 8-byte header,
      * type, payload.
      */
    def box(tpe: String)(body: Writer => Unit): Writer = {
      val p = Bin.bytes(body)
      be32(p.length + 8L).ascii(tpe).bytes(p)
    }

    /** ISO-BMFF full box: a box whose payload opens with version and flags. */
    def fullBox(tpe: String, version: Int, flags: Int)(body: Writer => Unit): Writer =
      box(tpe) { w => w.be32((version.toLong << 24) | flags); body(w) }

    /** RIFF chunk: tag, LE32 payload size, payload, and the pad byte an
      * odd-sized payload needs (counted by the parent, not the chunk).
      */
    def riffChunk(tag: String)(body: Writer => Unit): Writer = {
      val p = Bin.bytes(body)
      ascii(tag).le32(p.length.toLong).bytes(p)
      if ((p.length & 1) == 1) u8(0) else this
    }

    /** PNG chunk (PNG §5.3): BE32 payload length, type, payload, CRC-32
      * over type and payload.
      */
    def pngChunk(tpe: String, payload: Array[Byte]): Writer = {
      val t = tpe.getBytes(US_ASCII)
      be32(payload.length.toLong).bytes(t).bytes(payload)
      be32(crc32(t ++ payload))
    }

    /** JPEG marker segment (T.81 B.1.1.4): FF, marker, BE16 length counting
      * itself, payload.
      */
    def segment(marker: Int)(body: Writer => Unit): Writer = {
      val p = Bin.bytes(body)
      u8(0xff).u8(marker).be16(p.length + 2).bytes(p)
    }
  }

  /** One ISO-BMFF box: type and payload range [from, until). */
  final case class Box(tpe: String, from: Int, until: Int)

  /** The boxes tiling [from, to) (14496-12 §4.2); None when a header or a
    * box runs past `to`. The 64-bit (size 1) and to-end (size 0) forms are
    * refused.
    */
  def boxes(b: Array[Byte], from: Int, to: Int): Option[Seq[Box]] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Box]
    var p = from
    while (p < to) {
      if (p + 8 > to) return None
      val sz = u32be(b, p)
      if (sz < 8 || p + sz > to) return None
      out += Box(fourcc(b, p + 4), p + 8, p + sz.toInt)
      p += sz.toInt
    }
    Some(out.toSeq)
  }

  // ------------------------------------------------------------ JPEG

  /** Canonical Huffman table (T.81 Annex C) from a DHT's BITS (16 code
    * counts by length) and HUFFVAL: the per-symbol codes the encoder
    * writes and the minCode/maxCode/valPtr tables the decoder reads
    * (T.81 F.2.2.3).
    */
  final class Huffman(val bits: Array[Int], val vals: Array[Int]) {
    private[Bin] val minCode = new Array[Int](17)
    private[Bin] val maxCode = new Array[Int](17)
    private[Bin] val valPtr = new Array[Int](17)
    private val codeOf = new Array[Int](256)
    private val sizeOf = new Array[Int](256)

    locally {
      var code = 0
      var k = 0
      for (len <- 1 to 16) {
        valPtr(len) = k
        minCode(len) = code
        var i = 0
        while (i < bits(len - 1)) {
          codeOf(vals(k)) = code; sizeOf(vals(k)) = len
          code += 1; k += 1; i += 1
        }
        maxCode(len) = code - 1 // below minCode when no code has this length
        code <<= 1
      }
    }

    private[Bin] def code(sym: Int): Int = codeOf(sym)
    private[Bin] def size(sym: Int): Int = {
      require(sizeOf(sym) > 0, s"symbol $sym has no code")
      sizeOf(sym)
    }
  }

  /** The tables of one DHT payload [from, until): (Tc/Th byte, table) in
    * segment order; None when a table runs past `until`.
    */
  def dhtTables(b: Array[Byte], from: Int, until: Int): Option[Seq[(Int, Huffman)]] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Huffman)]
    var j = from
    while (j < until) {
      if (j + 17 > until) return None
      val bits = Array.tabulate(16)(t => b(j + 1 + t) & 0xff)
      val n = bits.sum
      if (j + 17 + n > until) return None
      out += ((b(j) & 0xff, new Huffman(bits, Array.tabulate(n)(t => b(j + 17 + t) & 0xff))))
      j += 17 + n
    }
    Some(out.toSeq)
  }

  /** Magnitude category of a coefficient or difference (T.81 F.1.2.1). */
  private def category(v: Int): Int = 32 - Integer.numberOfLeadingZeros(math.abs(v))

  /** Sign-extend `cat` received magnitude bits (T.81 F.2.2.1 EXTEND). */
  def extend(v: Int, cat: Int): Int = if (v < (1 << (cat - 1))) v - (1 << cat) + 1 else v

  /** MSB-first entropy-coded bit writer: an 0xFF byte is followed by a
    * stuffed 0x00 (T.81 B.1.1.5), and `pad` fills the last byte with 1s
    * (F.1.2.3).
    */
  final class BitWriter(out: Writer) {
    private var acc = 0L
    private var nb = 0

    def bits(code: Int, len: Int): Unit = {
      acc = (acc << len) | (code & ((1L << len) - 1)); nb += len
      while (nb >= 8) {
        val byte = ((acc >> (nb - 8)) & 0xff).toInt
        out.u8(byte); if (byte == 0xff) out.u8(0x00)
        nb -= 8
      }
    }

    def huff(h: Huffman, sym: Int): Unit = bits(h.code(sym), h.size(sym))

    /** The `cat` magnitude bits of nonzero `v` (negatives as v - 1). */
    private def magnitude(v: Int, cat: Int): Unit = bits(if (v > 0) v else v + (1 << cat) - 1, cat)

    /** A DC difference: its category symbol, then its magnitude bits. */
    def dc(h: Huffman, diff: Int): Unit = {
      val cat = category(diff)
      huff(h, cat)
      if (cat > 0) magnitude(diff, cat)
    }

    /** A nonzero AC coefficient after `run` zeros: (run, size) symbol, bits. */
    def ac(h: Huffman, run: Int, v: Int): Unit = {
      val sz = category(v)
      huff(h, (run << 4) | sz)
      magnitude(v, sz)
    }

    def pad(): Unit = if (nb > 0) { val p = 8 - nb; bits((1 << p) - 1, p) }
  }

  /** MSB-first reader over one unstuffed entropy segment; every read
    * returns -1 once the segment is exhausted.
    */
  final class BitReader(seg: Array[Byte]) {
    private var pos = 0

    def bit(): Int = {
      if (pos >= seg.length * 8) return -1
      val v = (seg(pos >> 3) >> (7 - (pos & 7))) & 1
      pos += 1
      v
    }

    /** RECEIVE(n): n raw bits as an unsigned value. */
    def bits(n: Int): Int = {
      var v = 0
      var t = 0
      while (t < n) {
        val x = bit(); if (x < 0) return -1
        v = (v << 1) | x; t += 1
      }
      v
    }

    /** DECODE (T.81 F.2.2.3): the next symbol of `h`, or -1 when no code
      * of length ≤ 16 matches.
      */
    def decode(h: Huffman): Int = {
      var code = 0
      var len = 0
      while (len < 16) {
        val x = bit(); if (x < 0) return -1
        code = (code << 1) | x
        len += 1
        if (h.maxCode(len) >= h.minCode(len) && code >= h.minCode(len) && code <= h.maxCode(len))
          return h.vals(h.valPtr(len) + code - h.minCode(len))
      }
      -1
    }
  }

  /** Entropy-coded data from `from` up to the first marker that is neither
    * a stuffed 0xFF00 nor RSTn: `segments` split at the RSTn markers,
    * `rst` their indices n, and `end` the position of the stopping
    * marker's 0xFF.
    */
  final case class Entropy(segments: Array[Array[Byte]], rst: Array[Int], end: Int)

  /** Unstuff entropy-coded data (T.81 B.1.1.5, E.1.4); None when it runs
    * off the end before a marker.
    */
  def unstuff(b: Array[Byte], from: Int): Option[Entropy] = {
    val segs = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    val rst = scala.collection.mutable.ArrayBuffer.empty[Int]
    var buf = new java.io.ByteArrayOutputStream()
    var k = from
    while (k < b.length) {
      val c = b(k) & 0xff
      if (c != 0xff) { buf.write(c); k += 1 }
      else {
        if (k + 1 >= b.length) return None
        val nxt = b(k + 1) & 0xff
        if (nxt == 0x00) { buf.write(0xff); k += 2 }
        else {
          segs += buf.toByteArray
          if (nxt < 0xd0 || nxt > 0xd7) return Some(Entropy(segs.toArray, rst.toArray, k))
          buf = new java.io.ByteArrayOutputStream()
          rst += nxt - 0xd0
          k += 2
        }
      }
    }
    None
  }

  /** The marker segment header at `i` (T.81 B.1.1.4): (marker, length)
    * when `i` holds FF, a marker and a BE16 length whose segment fits in
    * `b`; None otherwise.
    */
  def segmentAt(b: Array[Byte], i: Int): Option[(Int, Int)] = {
    if (i + 4 > b.length || (b(i) & 0xff) != 0xff) return None
    val len = u16be(b, i + 2)
    if (i + 2 + len > b.length) None else Some((b(i + 1) & 0xff, len))
  }
}
