package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import graft.Tables
import graft.queries.Entry
import graft.queries.OracleSql._
import graft.operators.Multimodal.TarIn
import graft.sources.Bin

/** Container formats, continued (Multimodal.scala hosts tar q308 / zip
  * q315): the compressed-member and raster-file formats a 100 TB crawl
  * store actually lands in. Same house discipline throughout — per doc a
  * REAL byte-level artifact is synthesized from the row's own fields,
  * parsed back by an honest structural walk (None on ANY malformation), a
  * deterministic corruption lane keeps the negative path honest, the
  * rollup moves only per-source sums, the oracle replays the synthesis
  * closed form, and the suite pins conformance against an independent
  * reference decoder (java.util.zip / javax.imageio).
  *
  * Scale posture: all three are map-only until the ≤|sources|-row rollup
  * (the q43/q298/q308 typed batched mapPartitions shape) — at 1000
  * executors the decode parallelizes per input split and the only
  * exchange carries the bounded source table.
  *
  * Reference scope (JasperWoo/MapReduceCore): the reference reads text
  * lines only (worker.h:119-140); these are the ingest decoders its users
  * would hand-roll inside map tasks, made first-class.
  */
object Containers {

  /** The documents as `TarIn` rows: the input of every container decoder
    * here and of q308/q315 in `Multimodal`. */
  private[graft] def tarInputs(s: SparkSession, d: String): Dataset[TarIn] = {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("text"), col("n_chars"))
      .as[(Long, String, String, Long)]
      .map { case (id, src, txt, nc) => TarIn(id, src, txt, nc) }
  }

  private val DigP = 2147483647L

  private def nameDigest(s: String): Long = {
    var a = 0L
    var i = 0
    while (i < s.length) { a = (a * 131 + s.charAt(i)) % DigP; i += 1 }
    a
  }

  // ---------------------------------------------------------------- q319
  // Multi-member gzip: the WARC convention — one gzip MEMBER per record,
  // members concatenated into one .gz shard, so a reader can split at
  // member boundaries. Real DEFLATE via java.util.zip both ways.

  final case class GzStats(doc_id: Long, source: String, n_members: Long,
      n_bad_checksum: Long, payload_bytes: Long, name_digest: Long,
      n_parse_fail: Long)

  /** Two-member gzip stream for one doc: the text record then its JSON
    * sidecar, each a complete RFC 1952 member (FNAME flag set, MTIME 0,
    * OS 255, real Deflater body, CRC32 + ISIZE trailer). doc_id % 43 gets
    * member 1's RECORDED CRC falsified — the structure parses, only the
    * integrity check fails (the honest-negative lane). doc_id % 59 gets
    * the final trailer TRUNCATED (5 bytes dropped) — a STRUCTURAL
    * malformation the walk cannot parse past, exercising the
    * parse-failure lane for real (r18 advice: the old -1 sentinel rows
    * flowed straight into the per-source sums; failures now carry an
    * explicit n_parse_fail count and contribute nothing else).
    */
  private[graft] def gzipFullBytes(t: TarIn): Array[Byte] = {
    val out = new Bin.Writer
    def member(name: String, payload: Array[Byte], corrupt: Boolean): Unit =
      out.u8(0x1f).u8(0x8b).u8(8) // magic, CM=deflate
        .u8(0x08) // FLG: FNAME only
        .le32(0L) // MTIME
        .u8(0).u8(255) // XFL, OS=unknown
        .ascii(name).u8(0)
        .bytes(Bin.deflate(payload, nowrap = true))
        .le32(Bin.crc32(payload) ^ (if (corrupt) 1L else 0L))
        .le32(payload.length.toLong & 0xffffffffL)
    member(s"d${t.doc_id}.txt",
      t.text.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      t.doc_id % 43 == 0)
    member(s"d${t.doc_id}.json",
      s"""{"doc_id":${t.doc_id},"n_chars":${t.n_chars}}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8), false)
    val b = out.result
    if (t.doc_id % 59L == 0L) b.dropRight(5) else b
  }

  /** Walk a concatenated gzip stream member-by-member: header (magic, CM,
    * FNAME), real Inflater inflate tracking compressed bytes consumed,
    * 8-byte trailer verification (CRC32 of the inflated bytes AND ISIZE).
    * Per member (name, inflated_len, ok). None on ANY structural
    * malformation — unknown flags, truncated name/body/trailer, bad
    * deflate data.
    */
  private[graft] def parseGzipMembers(
      b: Array[Byte]): Option[Seq[(String, Long, Boolean)]] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Boolean)]
    var p = 0
    while (p < b.length) {
      if (p + 10 > b.length) return None
      if ((b(p) & 0xff) != 0x1f || (b(p + 1) & 0xff) != 0x8b ||
        (b(p + 2) & 0xff) != 8) return None
      val flg = b(p + 3) & 0xff
      if ((flg & ~0x08) != 0) return None // only FNAME supported
      var q = p + 10
      var name = ""
      if ((flg & 0x08) != 0) {
        val s0 = q
        while (q < b.length && b(q) != 0) q += 1
        if (q >= b.length) return None
        name = new String(b, s0, q - s0,
          java.nio.charset.StandardCharsets.US_ASCII)
        q += 1
      }
      val inf = new java.util.zip.Inflater(true)
      inf.setInput(b, q, b.length - q)
      val crc = new java.util.zip.CRC32()
      var ilen = 0L
      val buf = new Array[Byte](8192)
      try {
        while (!inf.finished()) {
          val n = inf.inflate(buf)
          if (n == 0 && (inf.needsInput() || inf.needsDictionary()))
            return None // truncated or preset-dictionary stream
          crc.update(buf, 0, n)
          ilen += n
        }
        val tp = q + inf.getBytesRead.toInt
        if (tp + 8 > b.length) return None
        val ok = crc.getValue == Bin.u32le(b, tp) && (ilen & 0xffffffffL) == Bin.u32le(b, tp + 4)
        out += ((name, ilen, ok))
        p = tp + 8
      } catch {
        case _: java.util.zip.DataFormatException => return None
      } finally inf.end()
    }
    Some(out.toSeq)
  }

  def gzipIndexPartition(rows: Iterator[TarIn]): Iterator[GzStats] =
    rows.grouped(Multimodal.decodeBatchSize).flatMap(_.iterator.map { t =>
      parseGzipMembers(gzipFullBytes(t)) match {
        case Some(ms) =>
          val good = ms.filter(_._3)
          GzStats(t.doc_id, t.source, ms.length.toLong,
            (ms.length - good.length).toLong, good.map(_._2).sum,
            good.map(m => nameDigest(m._1)).sum % DigP, 0L)
        // a shard the walk cannot parse contributes NOTHING to the
        // member sums — only the explicit failure count
        case None => GzStats(t.doc_id, t.source, 0L, 0L, 0L, 0L, 1L)
      }
    })

  private[graft] val GzipOracle: String =
    sql"""WITH m AS (SELECT source, doc_id,
       |    CAST(strlen(text) AS BIGINT) AS sz1,
       |    CAST(strlen('{"doc_id":' || doc_id || ',"n_chars":'
       |      || n_chars || '}') AS BIGINT) AS sz2,
       |    doc_id % 43 = 0 AS bad1,
       |    doc_id % 59 = 0 AS pfail,
       |    'd' || doc_id || '.txt' AS n1,
       |    'd' || doc_id || '.json' AS n2
       |  FROM documents),
       |dg AS (SELECT source,
       |    CASE WHEN pfail THEN 0 ELSE 2 END AS nm,
       |    CASE WHEN pfail THEN 1 ELSE 0 END AS nf,
       |    CASE WHEN pfail THEN 0 WHEN bad1 THEN 1 ELSE 0 END AS nbad,
       |    CASE WHEN pfail THEN 0 ELSE
       |      CASE WHEN bad1 THEN 0 ELSE sz1 END + sz2 END AS good_payload,
       |    CASE WHEN pfail THEN 0 ELSE
       |     (CASE WHEN bad1 THEN 0 ELSE
       |      ${charPoly("n1")} END
       |     + list_reduce(list_prepend(CAST(0 AS BIGINT),
       |        list_transform(range(1, length(n2) + 1),
       |          i -> CAST(unicode(n2[i]) AS BIGINT))),
       |        (a, c) -> (a * 131 + c) % $DigP))
       |      % $DigP END AS dgs
       |  FROM m)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_shards,
       |  CAST(sum(nm) AS BIGINT) AS n_members,
       |  CAST(sum(nbad) AS BIGINT) AS n_crc_bad,
       |  CAST(sum(good_payload) AS BIGINT) AS payload_bytes,
       |  CAST(sum(dgs) % $DigP AS BIGINT) AS name_digest,
       |  CAST(sum(nf) AS BIGINT) AS n_parse_fail
       |FROM dg GROUP BY source ORDER BY source"""

  // ---------------------------------------------------------------- q320
  // TIFF: the tag-directory raster format (scanned-document corpora, ML
  // label masks). The content here is the IFD WALK — offset-addressed
  // variable-order tag entries, not a fixed header layout.

  final case class ImgStats(doc_id: Long, source: String, ok: Long,
      pix_bytes: Long, digest: Long)

  /** Complete little-endian baseline-gray TIFF for one doc: II magic, one
    * 9-entry IFD (width/length/bps/compression/photometric/strip
    * offset+count/spp/rows-per-strip), single uncompressed strip of
    * w·h = (4..20)·(4..12) deterministic gray pixels
    * pix(i) = (doc_id·7 + i·13) % 251. doc_id % 47 gets StripByteCounts
    * falsified to w·h+1 — structurally parseable, rejected by the
    * geometry cross-check (the honest-negative lane).
    */
  private[graft] def tiffFullBytes(t: TarIn): Array[Byte] = {
    val w = (4L * (1L + t.doc_id % 5L)).toInt
    val h = (4L * (1L + t.doc_id % 3L)).toInt
    val out = new Bin.Writer
    def entry(tag: Int, typ: Int, value: Long): Unit =
      out.le16(tag).le16(typ).le32(1L).le32(value)
    out.ascii("II").le16(42).le32(8L) // header, IFD at 8
    out.le16(9) // entry count
    val pixOff = 8L + 2L + 9L * 12L + 4L // = 122
    val count = w.toLong * h +
      (if (t.doc_id % 47L == 0L) 1L else 0L) // the falsified lane
    entry(256, 3, w.toLong) // ImageWidth SHORT
    entry(257, 3, h.toLong) // ImageLength SHORT
    entry(258, 3, 8L) // BitsPerSample
    entry(259, 3, 1L) // Compression: none
    entry(262, 3, 1L) // Photometric: BlackIsZero
    entry(273, 4, pixOff) // StripOffsets LONG
    entry(277, 3, 1L) // SamplesPerPixel
    entry(278, 4, h.toLong) // RowsPerStrip
    entry(279, 4, count) // StripByteCounts
    out.le32(0L) // no next IFD
    var i = 0
    while (i < w * h) {
      out.u8(((t.doc_id * 7L + i.toLong * 13L) % 251L).toInt)
      i += 1
    }
    out.result
  }

  /** IFD walk: validate the header, read the tag directory in whatever
    * order it appears, cross-check the raster geometry (single gray
    * 8-bit uncompressed strip whose byte count must equal w·h and lie in
    * bounds), digest the pixels row-major. None on ANY malformation.
    */
  private[graft] def parseTiffGray(
      b: Array[Byte]): Option[(Long, Long, Long)] = {
    if (b.length < 8 || b(0) != 'I' || b(1) != 'I' || Bin.u16le(b, 2) != 42) return None
    val ifd = Bin.u32le(b, 4)
    if (ifd < 8L || ifd + 2L > b.length) return None
    val n = Bin.u16le(b, ifd.toInt)
    if (ifd + 2L + 12L * n + 4L > b.length) return None
    val tags = scala.collection.mutable.Map.empty[Int, Long]
    var k = 0
    while (k < n) {
      val e = ifd.toInt + 2 + 12 * k
      val tag = Bin.u16le(b, e); val typ = Bin.u16le(b, e + 2)
      if (Bin.u32le(b, e + 4) != 1L) return None // count must be 1
      val v = typ match {
        case 3 => Bin.u16le(b, e + 8).toLong // SHORT, left-justified LE
        case 4 => Bin.u32le(b, e + 8) // LONG
        case _ => return None
      }
      tags(tag) = v
      k += 1
    }
    val need = Seq(256, 257, 258, 259, 262, 273, 277, 278, 279)
    if (!need.forall(tags.contains)) return None
    val w = tags(256); val h = tags(257)
    if (w <= 0L || h <= 0L || w * h > (1L << 24)) return None
    if (tags(258) != 8L || tags(259) != 1L || tags(262) > 1L ||
      tags(277) != 1L || tags(278) < h) return None
    val off = tags(273); val cnt = tags(279)
    if (cnt != w * h || off < 0L || off + cnt > b.length) return None
    var dg = 0L
    var i = 0L
    while (i < cnt) {
      dg = (dg * 131L + (b((off + i).toInt) & 0xffL)) % DigP
      i += 1L
    }
    Some((w, h, dg))
  }

  // ---------------------------------------------------------------- q321
  // BMP: the bottom-up padded-stride raster — the two layout semantics
  // (4-byte row padding, inverted row order) a naive reader gets wrong.

  /** Complete 24-bit bottom-up BMP for one doc: BITMAPFILEHEADER +
    * BITMAPINFOHEADER, rows stored bottom-up, strides padded to 4 bytes
    * (w ∈ {3,6,9,12} exercises pad 3/2/1/0). Logical top-down pixel
    * (x, y): B = (id+3x+7y)%256, G = (2id+5x+11y)%256, R = (3id+11x+13y)
    * %256. doc_id % 31 gets bfSize falsified by +1 (the honest-negative
    * lane — structure intact, the length cross-check fails).
    */
  private[graft] def bmpFullBytes(t: TarIn): Array[Byte] = {
    val w = (3L * (1L + t.doc_id % 4L)).toInt
    val h = (2L * (1L + t.doc_id % 3L)).toInt
    val stride = (w * 3 + 3) & ~3
    val size = 54 + stride * h
    val out = new Bin.Writer
    out.ascii("BM")
      .le32(size.toLong + (if (t.doc_id % 31L == 0L) 1L else 0L))
      .le16(0).le16(0).le32(54L) // reserved, pixel-data offset
      .le32(40L).le32(w.toLong).le32(h.toLong) // biSize, w, h (bottom-up)
      .le16(1).le16(24).le32(0L).le32((stride * h).toLong) // planes, bpp, comp
      .le32(2835L).le32(2835L).le32(0L).le32(0L) // ppm, palette
    var row = h - 1
    while (row >= 0) { // stored bottom-up: last logical row first
      var x = 0
      while (x < w) {
        out.u8(((t.doc_id + 3L * x + 7L * row) % 256L).toInt) // B
          .u8(((t.doc_id * 2L + 5L * x + 11L * row) % 256L).toInt) // G
          .u8(((t.doc_id * 3L + 11L * x + 13L * row) % 256L).toInt) // R
        x += 1
      }
      out.zeros(stride - w * 3)
      row -= 1
    }
    out.result
  }

  /** Validate both headers (incl. the bfSize == actual-length integrity
    * check), undo the bottom-up row order and the 4-byte stride padding,
    * digest pixels in LOGICAL top-down row-major (R, G, B) order — so a
    * parser that ignores either layout rule fails the gate. None on ANY
    * malformation.
    */
  private[graft] def parseBmp24(b: Array[Byte]): Option[(Long, Long, Long)] = {
    if (b.length < 54 || b(0) != 'B' || b(1) != 'M') return None
    if (Bin.u32le(b, 2) != b.length.toLong) return None // bfSize integrity
    val off = Bin.u32le(b, 10)
    if (Bin.u32le(b, 14) != 40L) return None // BITMAPINFOHEADER only
    val w = Bin.u32le(b, 18); val h = Bin.u32le(b, 22)
    if (w <= 0L || h <= 0L || w * h > (1L << 24)) return None
    if (Bin.u16le(b, 26) != 1 || Bin.u16le(b, 28) != 24 || Bin.u32le(b, 30) != 0L) return None
    val stride = ((w * 3L + 3L) & ~3L)
    if (off < 54L || off + stride * h > b.length) return None
    var dg = 0L
    var y = 0L
    while (y < h) {
      val rowOff = off + (h - 1L - y) * stride // stored bottom-up
      var x = 0L
      while (x < w) {
        val p = (rowOff + x * 3L).toInt
        dg = (dg * 131L + (b(p + 2) & 0xffL)) % DigP // R
        dg = (dg * 131L + (b(p + 1) & 0xffL)) % DigP // G
        dg = (dg * 131L + (b(p) & 0xffL)) % DigP // B
        x += 1L
      }
      y += 1L
    }
    Some((w, h, dg))
  }

  def tiffDecodePartition(rows: Iterator[TarIn]): Iterator[ImgStats] =
    rows.grouped(Multimodal.decodeBatchSize).flatMap(_.iterator.map { t =>
      parseTiffGray(tiffFullBytes(t)) match {
        case Some((w, h, dg)) => ImgStats(t.doc_id, t.source, 1L, w * h, dg)
        case None => ImgStats(t.doc_id, t.source, 0L, 0L, 0L)
      }
    })

  def bmpDecodePartition(rows: Iterator[TarIn]): Iterator[ImgStats] =
    rows.grouped(Multimodal.decodeBatchSize).flatMap(_.iterator.map { t =>
      parseBmp24(bmpFullBytes(t)) match {
        case Some((w, h, dg)) =>
          ImgStats(t.doc_id, t.source, 1L, 3L * w * h, dg)
        case None => ImgStats(t.doc_id, t.source, 0L, 0L, 0L)
      }
    })

  // ---------------------------------------------------------------- q325
  // UTF-8 byte-level validation: the ingest gate BELOW q251's mojibake
  // audit (which sees already-decoded strings) — raw crawl bytes, a real
  // RFC 3629 state machine, per-error-class accounting.

  final case class Utf8Stats(doc_id: Long, source: String, clean: Long,
      n_overlong: Long, n_lone_cont: Long, n_truncated: Long,
      n_surrogate: Long, valid_cp: Long)

  /** Raw byte stream for one doc: the (ASCII) text, one genuine
    * multi-byte codepoint (é = C3 A9 — proves acceptance, not just
    * rejection), then the doc's planted corruption lanes IN FIXED ORDER,
    * each lane independent so overlapping doc_ids carry several:
    * %29 → overlong 2-byte slash (C0 AF), %17 → CESU-8 surrogate
    * (ED A0 80), %23 → lone continuation (80), %19 → truncated 3-byte
    * lead at EOF (E2 82).
    */
  private[graft] def utf8StreamBytes(t: TarIn): Array[Byte] = {
    val out = new Bin.Writer
    out.ascii(t.text)
    out.u8(0xc3).u8(0xa9)
    if (t.doc_id % 29 == 0) out.u8(0xc0).u8(0xaf)
    if (t.doc_id % 17 == 0) out.u8(0xed).u8(0xa0).u8(0x80)
    if (t.doc_id % 23 == 0) out.u8(0x80)
    if (t.doc_id % 19 == 0) out.u8(0xe2).u8(0x82)
    out.result
  }

  /** RFC 3629 validator with an explicit CONSUME-PREFIX error policy:
    * when a lead byte's sequence is invalid (bad continuation, overlong,
    * surrogate, out-of-range, EOF), the lead AND every immediately
    * following continuation byte (up to the declared length) are consumed
    * and ONE error of the dominant class is recorded — so each planted
    * corruption is exactly one error and counts are closed-form. C0/C1
    * are classified as what they are (2-byte overlong leads), not generic
    * garbage. Returns (overlong, lone_cont, truncated, surrogate,
    * valid_codepoints).
    */
  private[graft] def utf8Validate(
      b: Array[Byte]): (Long, Long, Long, Long, Long) = {
    var (over, lone, trunc, surr, ok) = (0L, 0L, 0L, 0L, 0L)
    var i = 0
    while (i < b.length) {
      val c = b(i) & 0xff
      if (c < 0x80) { ok += 1; i += 1 }
      else if (c < 0xc0) { lone += 1; i += 1 } // stray continuation
      else {
        val len =
          if (c < 0xe0) 2 else if (c < 0xf0) 3 else if (c < 0xf8) 4 else 1
        if (len == 1) { lone += 1; i += 1 } // F8-FF: never a lead
        else {
          var k = 1
          while (k < len && i + k < b.length &&
            (b(i + k) & 0xc0) == 0x80) k += 1
          if (k < len && i + k >= b.length) { trunc += 1; i += k }
          else if (k < len) { lone += 1; i += k } // bad continuation
          else {
            var cp = c & (0x7f >> len)
            var j = 1
            while (j < len) { cp = (cp << 6) | (b(i + j) & 0x3f); j += 1 }
            val minCp = len match {
              case 2 => 0x80; case 3 => 0x800; case _ => 0x10000
            }
            if (cp < minCp) over += 1
            else if (cp >= 0xd800 && cp <= 0xdfff) surr += 1
            else if (cp > 0x10ffff) lone += 1
            else ok += 1
            i += len
          }
        }
      }
    }
    (over, lone, trunc, surr, ok)
  }

  def utf8AuditPartition(rows: Iterator[TarIn]): Iterator[Utf8Stats] =
    rows.grouped(Multimodal.decodeBatchSize).flatMap(_.iterator.map { t =>
      val (over, lone, trunc, surr, ok) = utf8Validate(utf8StreamBytes(t))
      Utf8Stats(t.doc_id, t.source,
        if (over + lone + trunc + surr == 0L) 1L else 0L,
        over, lone, trunc, surr, ok)
    })

  private[graft] val Utf8Oracle: String =
    """WITH m AS (SELECT source,
      |    CASE WHEN doc_id % 29 = 0 THEN 1 ELSE 0 END AS ov,
      |    CASE WHEN doc_id % 23 = 0 THEN 1 ELSE 0 END AS lc,
      |    CASE WHEN doc_id % 19 = 0 THEN 1 ELSE 0 END AS tr,
      |    CASE WHEN doc_id % 17 = 0 THEN 1 ELSE 0 END AS su,
      |    CAST(strlen(text) AS BIGINT) + 1 AS cp
      |  FROM documents)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(CASE WHEN ov + lc + tr + su = 0 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_clean,
      |  CAST(sum(ov) AS BIGINT) AS n_overlong,
      |  CAST(sum(lc) AS BIGINT) AS n_lone_cont,
      |  CAST(sum(tr) AS BIGINT) AS n_truncated,
      |  CAST(sum(su) AS BIGINT) AS n_surrogate,
      |  CAST(sum(cp) AS BIGINT) AS valid_cp
      |FROM m GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q328
  // G.711 mu-law: the first LOSSY audio codec pair (q225 audits linear
  // PCM; q312 is the image-side entropy decode) — logarithmic companding
  // encode AND expand implemented from the ITU spec, both directions.

  final case class UlawStats(doc_id: Long, source: String, ok: Long,
      n_samples: Long, code_digest: Long, energy_out: Long,
      sum_err2: Long, max_abs_err: Long)

  /** ITU G.711 mu-law compress: clip to 32635, bias 132, segment =
    * position of the magnitude's leading bit, 4-bit mantissa, ones'
    * complement. Verified against the JDK's own expansion table (suite:
    * all 256 codes agree).
    */
  private[graft] def ulawEncode(s: Int): Int = {
    val sign = if (s < 0) 0x80 else 0
    val x = math.min(if (s < 0) -s else s, 32635) + 132
    var seg = 0
    while (seg < 7 && x >= (256 << seg)) seg += 1
    255 - (sign | (seg << 4) | ((x >> (seg + 3)) & 0x0f))
  }

  /** ITU G.711 mu-law expand — the exact inverse table the JDK ships. */
  private[graft] def ulawDecode(code: Int): Int = {
    val v = 255 - (code & 0xff)
    val mag = (((v & 0x0f) * 8 + 132) << ((v >> 4) & 7)) - 132
    if ((v & 0x80) != 0) -mag else mag
  }

  /** Complete mu-law WAV for one doc: RIFF/WAVE, 18-byte fmt chunk
    * (format tag 7, mono, 8 kHz, 8-bit, cbSize 0), the spec-required
    * fact chunk, data chunk of n encoded samples (q225's deterministic
    * full-range generator). doc_id % 53 gets the fact count falsified —
    * the honest-negative lane our parser's cross-check catches.
    */
  private[graft] def ulawWavBytes(t: TarIn): Array[Byte] = {
    val n = (64 + t.doc_id % 64).toInt
    // the data chunk's RIFF pad byte (odd n) is counted in the RIFF size
    // (r18 advice: omitting it violated RIFF alignment and only worked
    // because data was the last chunk — while the parser's own walk
    // assumed the pad existed, so any chunk appended after data would have
    // misparsed)
    val chunks = Bin.bytes(_
      .riffChunk("fmt ")(_.le16(7).le16(1).le32(8000L).le32(8000L).le16(1).le16(8).le16(0))
      .riffChunk("fact")(_.le32(n.toLong + (if (t.doc_id % 53L == 0L) 1L else 0L)))
      .riffChunk("data") { d =>
        var i = 0
        while (i < n) {
          d.u8(ulawEncode(
            (((t.doc_id * 31L + i.toLong * 40503L + 7L) % 65536L) - 32768L).toInt))
          i += 1
        }
      })
    Bin.bytes(_.ascii("RIFF").le32(4L + chunks.length).ascii("WAVE").bytes(chunks))
  }

  /** Chunk walk (RIFF magic, fmt tag 7 / mono / 8-bit, fact-vs-data
    * cross-check), then the real expand per byte. Returns the decoded
    * samples; None on ANY malformation.
    */
  private[graft] def parseUlawWav(b: Array[Byte]): Option[Array[Int]] = {
    if (b.length < 12 || Bin.fourcc(b, 0) != "RIFF" || Bin.fourcc(b, 8) != "WAVE") return None
    if (Bin.u32le(b, 4) != b.length - 8L) return None
    var p = 12
    var fmtOk = false
    var nFact = -1L
    var data: Option[(Int, Int)] = None
    while (p + 8 <= b.length) {
      val t = Bin.fourcc(b, p); val sz = Bin.u32le(b, p + 4)
      if (p + 8 + sz > b.length) return None
      t match {
        case "fmt " =>
          if (sz < 16 || Bin.u16le(b, p + 8) != 7 || Bin.u16le(b, p + 10) != 1 ||
            Bin.u16le(b, p + 22) != 8) return None
          fmtOk = true
        case "fact" =>
          if (sz < 4) return None
          nFact = Bin.u32le(b, p + 8)
        case "data" => data = Some((p + 8, sz.toInt))
        case _ => // unknown chunks skipped, the RIFF contract
      }
      p += 8 + sz.toInt + (sz.toInt & 1)
    }
    (fmtOk, data) match {
      case (true, Some((off, len))) if nFact == len.toLong =>
        Some(Array.tabulate(len)(i => ulawDecode(b(off + i) & 0xff)))
      case _ => None
    }
  }

  def ulawAuditPartition(rows: Iterator[TarIn]): Iterator[UlawStats] =
    rows.grouped(Multimodal.decodeBatchSize).flatMap(_.iterator.map { t =>
      parseUlawWav(ulawWavBytes(t)) match {
        case Some(decoded) =>
          var (dg, eout, err2, mx) = (0L, 0L, 0L, 0L)
          var i = 0
          while (i < decoded.length) {
            val s = (((t.doc_id * 31L + i.toLong * 40503L + 7L) % 65536L)
              - 32768L).toInt
            val c = ulawEncode(s)
            dg = (dg * 131L + c) % DigP
            val sh = decoded(i).toLong
            eout += sh * sh
            val e = math.abs(s.toLong - sh)
            err2 += e * e
            if (e > mx) mx = e
            i += 1
          }
          UlawStats(t.doc_id, t.source, 1L, decoded.length.toLong,
            dg, eout, err2, mx)
        case None => UlawStats(t.doc_id, t.source, 0L, 0L, 0L, 0L, 0L, 0L)
      }
    })

  /** The oracle's per-sample encode/decode, GENERATED from one expression
    * builder (the Integrity.foldMod posture): S the generator sample, X
    * the biased magnitude, SEG the leading-bit segment, CODE the mu-law
    * byte, SHAT the expanded estimate, ERR the reconstruction error.
    */
  /** (CODE, SHAT) closed forms for ANY integer sample expression S — one
    * generator shared by the q328 codec audit and the q331 spectral
    * probe (the Integrity.foldMod posture: both engines get the same
    * fold, only the sample generator differs).
    */
  private def ulawSqlParts(S: String): (String, String) = {
    val X = s"(least(CASE WHEN $S < 0 THEN -$S ELSE $S END, 32635) + 132)"
    val SEG = s"(CASE WHEN $X >= 16384 THEN 7 WHEN $X >= 8192 THEN 6" +
      s" WHEN $X >= 4096 THEN 5 WHEN $X >= 2048 THEN 4 WHEN $X >= 1024" +
      s" THEN 3 WHEN $X >= 512 THEN 2 WHEN $X >= 256 THEN 1 ELSE 0 END)"
    val POW = s"(CASE $SEG WHEN 0 THEN 8 WHEN 1 THEN 16 WHEN 2 THEN 32" +
      " WHEN 3 THEN 64 WHEN 4 THEN 128 WHEN 5 THEN 256 WHEN 6 THEN 512" +
      " ELSE 1024 END)"
    val CODE = s"(255 - (CASE WHEN $S < 0 THEN 128 ELSE 0 END" +
      s" + $SEG * 16 + ($X // $POW) % 16))"
    val V = s"(255 - $CODE)"
    val MAG = s"((($V % 16) * 8 + 132) * (CASE ($V // 16) % 8 WHEN 0" +
      " THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4 WHEN 3 THEN 8 WHEN 4 THEN 16" +
      " WHEN 5 THEN 32 WHEN 6 THEN 64 ELSE 128 END) - 132)"
    val SHAT = s"(CASE WHEN $V >= 128 THEN -$MAG ELSE $MAG END)"
    (CODE, SHAT)
  }

  private[graft] val UlawOracle: String = {
    val S = "((doc_id*31 + i*40503 + 7) % 65536 - 32768)"
    val (code, shat) = ulawSqlParts(S)
    val CODE = code
    val SHAT = shat
    val ERR = s"(CASE WHEN $S - $SHAT < 0 THEN $SHAT - $S" +
      s" ELSE $S - $SHAT END)"
    sql"""WITH m AS (SELECT source, doc_id, 64 + doc_id % 64 AS n,
       |    doc_id % 53 = 0 AS bad FROM documents),
       |p AS (SELECT source, bad,
       |    CASE WHEN bad THEN 0 ELSE n END AS ns,
       |    CASE WHEN bad THEN CAST(0 AS BIGINT) ELSE
       |      ${polyFold(s"list_transform(range(0, n), i -> CAST($CODE AS BIGINT))")} END AS dg,
       |    CASE WHEN bad THEN 0 ELSE CAST(list_sum(list_transform(
       |      range(0, n), i -> $SHAT * $SHAT)) AS BIGINT) END AS eout,
       |    CASE WHEN bad THEN 0 ELSE CAST(list_sum(list_transform(
       |      range(0, n), i -> $ERR * $ERR)) AS BIGINT) END AS err2,
       |    CASE WHEN bad THEN 0 ELSE CAST(list_max(list_transform(
       |      range(0, n), i -> $ERR)) AS BIGINT) END AS mx
       |  FROM m)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_clips,
       |  CAST(sum(CASE WHEN bad THEN 1 ELSE 0 END) AS BIGINT) AS n_bad,
       |  CAST(sum(ns) AS BIGINT) AS n_samples,
       |  CAST(sum(dg) % $DigP AS BIGINT) AS code_digest,
       |  CAST(sum(eout) AS BIGINT) AS energy_out,
       |  CAST(sum(err2) AS BIGINT) AS sum_err2,
       |  CAST(max(mx) AS BIGINT) AS max_abs_err
       |FROM p GROUP BY source ORDER BY source"""
  }

  private def imgRollup(df: DataFrame): DataFrame =
    df.groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_images"),
        sum(expr("1L - ok")).as("n_bad"),
        sum(col("pix_bytes")).as("pix_bytes"),
        pmod(sum(col("digest")), lit(DigP)).as("pix_digest"))
      .orderBy(col("source"))

  private[graft] val TiffOracle: String =
    sql"""WITH m AS (SELECT source, doc_id,
       |    4 * (1 + doc_id % 5) AS w, 4 * (1 + doc_id % 3) AS h,
       |    doc_id % 47 = 0 AS bad
       |  FROM documents),
       |d AS (SELECT source, bad,
       |    CASE WHEN bad THEN 0 ELSE w * h END AS pix,
       |    CASE WHEN bad THEN 0 ELSE
       |      list_reduce(list_prepend(CAST(0 AS BIGINT),
       |        list_transform(range(0, w * h),
       |          i -> (doc_id * 7 + i * 13) % 251)),
       |        (a, v) -> (a * 131 + v) % $DigP) END AS dg
       |  FROM m)
       |$imageRollup"""

  private[graft] val BmpOracle: String =
    sql"""WITH m AS (SELECT source, doc_id,
       |    3 * (1 + doc_id % 4) AS w, 2 * (1 + doc_id % 3) AS h,
       |    doc_id % 31 = 0 AS bad
       |  FROM documents),
       |d AS (SELECT source, bad,
       |    CASE WHEN bad THEN 0 ELSE 3 * w * h END AS pix,
       |    CASE WHEN bad THEN 0 ELSE
       |      list_reduce(list_prepend(CAST(0 AS BIGINT),
       |        list_transform(range(0, 3 * w * h), i ->
       |          CASE i % 3
       |            WHEN 0 THEN (doc_id * 3 + 11 * ((i // 3) % w)
       |              + 13 * (i // (3 * w))) % 256
       |            WHEN 1 THEN (doc_id * 2 + 5 * ((i // 3) % w)
       |              + 11 * (i // (3 * w))) % 256
       |            ELSE (doc_id + 3 * ((i // 3) % w)
       |              + 7 * (i // (3 * w))) % 256
       |          END)),
       |        (a, v) -> (a * 131 + v) % $DigP) END AS dg
       |  FROM m)
       |$imageRollup"""

  // ---------------------------------------------------------------- q330
  // MP4 / ISO-BMFF (ISO 14496-12): the box-tree container video crawl
  // data lands in — nested size+type boxes, full-box version/flags, and
  // a sample-table INDEX (stsz sizes + stco chunk offsets) that addresses
  // payload bytes in a separate mdat box by ABSOLUTE file offset. The
  // content here is the recursive box walk plus the index/layout
  // cross-check: recorded sizes and offsets must tile the mdat payload
  // exactly, the property a remuxer or sample extractor depends on.

  final case class Mp4Stats(doc_id: Long, source: String, ok: Long,
      n_samples: Long, payload_bytes: Long, payload_digest: Long)

  private def mp4SampleSize(id: Long, t: Int, j: Int): Int =
    if (t == 1) (16L + (id * 7L + j * 13L) % 32L).toInt
    else (8L + (id * 11L + j * 5L) % 24L).toInt
  private def mp4Byte(id: Long, t: Int, j: Int, k: Int): Int =
    ((id + t * 31L + j * 17L + k * 7L) % 251L).toInt

  /** Complete two-track ISO-BMFF file for one doc: ftyp, moov with mvhd
    * and two traks (vide + soun, each tkhd/mdia/mdhd/hdlr/minf/stbl with
    * stsz + one-chunk stco), mdat carrying both tracks' samples
    * back-to-back. The stco offsets are ABSOLUTE (computed after the moov
    * is sized — the real two-pass muxer problem). doc_id % 67 gets track
    * 1's LAST recorded stsz size inflated by one byte — the structure
    * still parses; only the index-vs-layout cross-check catches it (the
    * honest-negative lane).
    */
  private[graft] def mp4FullBytes(t: TarIn): Array[Byte] = {
    val id = t.doc_id
    val n1 = (3 + id % 5).toInt; val n2 = (2 + id % 4).toInt
    val s1 = Array.tabulate(n1)(j => mp4SampleSize(id, 1, j))
    val s2 = Array.tabulate(n2)(j => mp4SampleSize(id, 2, j))
    val corrupt = id % 67L == 0L
    def trak(w: Bin.Writer, tid: Long, handler: String, sizes: Array[Int],
        stcoOff: Long, inflateLast: Boolean): Unit =
      mp4Trak(w, tid, handler, 0L) {
        _.fullBox("stsz", 0, 0) { s =>
          s.be32(0L).be32(sizes.length.toLong)
          sizes.zipWithIndex.foreach { case (sz, i) =>
            s.be32(if (inflateLast && i == sizes.length - 1) sz + 1L else sz.toLong)
          }
        }.fullBox("stco", 0, 0)(_.be32(1L).be32(stcoOff))
      }
    val ftyp = Bin.bytes(mp4Ftyp)
    def moov(o1: Long, o2: Long): Array[Byte] = Bin.bytes(_.box("moov") { m =>
      mp4Mvhd(m)
      trak(m, 1L, "vide", s1, o1, corrupt)
      trak(m, 2L, "soun", s2, o2, inflateLast = false)
    })
    // two-pass: size the moov with placeholder offsets (stco is
    // fixed-width), then write the real absolute offsets
    val mdatPayloadStart = ftyp.length + moov(0L, 0L).length + 8L
    val o1 = mdatPayloadStart
    val o2 = mdatPayloadStart + s1.sum
    Bin.bytes(_.bytes(ftyp).bytes(moov(o1, o2)).box("mdat") { p =>
      for (j <- 0 until n1; k <- 0 until s1(j)) p.u8(mp4Byte(id, 1, j, k))
      for (j <- 0 until n2; k <- 0 until s2(j)) p.u8(mp4Byte(id, 2, j, k))
    })
  }

  /** ftyp: major brand isom, minor version 0x200, compatible isom/iso2. */
  private def mp4Ftyp(w: Bin.Writer): Unit =
    w.box("ftyp")(_.ascii("isom").be32(0x200L).ascii("isom").ascii("iso2"))

  /** The identity transform matrix, 16.16 / 2.30 fixed point. */
  private def mp4Unity(w: Bin.Writer): Bin.Writer =
    w.be32(0x00010000L).be32(0L).be32(0L)
      .be32(0L).be32(0x00010000L).be32(0L)
      .be32(0L).be32(0L).be32(0x40000000L)

  private def mp4Mvhd(w: Bin.Writer): Unit =
    w.fullBox("mvhd", 0, 0) { p =>
      p.be32(0L).be32(0L).be32(1000L).be32(0L) // times/scale/dur
        .be32(0x00010000L).be16(0x0100).be16(0) // rate, volume
        .be32(0L).be32(0L) // reserved
      mp4Unity(p).zeros(24).be32(3L) // matrix, pre_defined, next track
    }

  /** trak → tkhd + mdia (mdhd with `duration`, hdlr, minf → stbl whose
    * children `stbl` writes).
    */
  private def mp4Trak(w: Bin.Writer, tid: Long, handler: String, duration: Long)(
      stbl: Bin.Writer => Unit): Unit =
    w.box("trak") { tr =>
      tr.fullBox("tkhd", 0, 7) { p =>
        p.be32(0L).be32(0L).be32(tid).be32(0L).be32(0L)
          .zeros(8).be16(0).be16(0).be16(0).be16(0)
        mp4Unity(p).be32(0L).be32(0L)
      }
      tr.box("mdia") {
        _.fullBox("mdhd", 0, 0)(_.be32(0L).be32(0L).be32(8000L).be32(duration)
          .be16(0x55c4).be16(0)) // language "und", pre_defined
          .fullBox("hdlr", 0, 0)(_.be32(0L).ascii(handler).zeros(12).u8(0)) // name = ""
          .box("minf")(_.box("stbl")(stbl))
      }
    }

  /** Top-level ISO-BMFF walk shared by the MP4 parsers: ftyp MUST lead
    * (14496-12 §4.3), exactly one moov and one mdat, exactly two traks
    * in the moov. (mdat, traks), or None.
    */
  private def mp4Top(b: Array[Byte]): Option[(Bin.Box, Seq[Bin.Box])] = {
    val top = Bin.boxes(b, 0, b.length).getOrElse(return None)
    if (top.isEmpty || top.head.tpe != "ftyp") return None
    val moov = top.filter(_.tpe == "moov") match {
      case Seq(m) => m; case _ => return None
    }
    val mdat = top.filter(_.tpe == "mdat") match {
      case Seq(m) => m; case _ => return None
    }
    val traks = Bin.boxes(b, moov.from, moov.until).getOrElse(return None)
      .filter(_.tpe == "trak")
    if (traks.length != 2) return None
    Some((mdat, traks))
  }

  /** One trak's descent trak → mdia → (hdlr handler type, minf → stbl):
    * (handler, mdia children, stbl children), or None.
    */
  private def mp4Track(b: Array[Byte], trak: Bin.Box)
      : Option[(String, Seq[Bin.Box], Seq[Bin.Box])] = {
    def child(in: Seq[Bin.Box], tpe: String): Option[Bin.Box] = in.find(_.tpe == tpe)
    val mdia = child(Bin.boxes(b, trak.from, trak.until).getOrElse(return None), "mdia")
      .getOrElse(return None)
    val inMdia = Bin.boxes(b, mdia.from, mdia.until).getOrElse(return None)
    val hdlr = child(inMdia, "hdlr").getOrElse(return None)
    if (hdlr.until - hdlr.from < 12) return None
    val minf = child(inMdia, "minf").getOrElse(return None)
    val stbl = child(Bin.boxes(b, minf.from, minf.until).getOrElse(return None), "stbl")
      .getOrElse(return None)
    val inStbl = Bin.boxes(b, stbl.from, stbl.until).getOrElse(return None)
    Some((Bin.fourcc(b, hdlr.from + 8), inMdia, inStbl))
  }

  /** ISO-BMFF walk: top-level box scan (ftyp MUST lead — 14496-12 §4.3),
    * recursive descent moov → trak → mdia → minf → stbl, hdlr handler
    * type, stsz/stco full-box parse, then the INDEX CROSS-CHECK: the two
    * tracks' (offset, Σsizes) regions must tile the mdat payload exactly
    * — [o1, o1+Σs1) [o2, o2+Σs2) with o1 = mdat start, o1+Σs1 = o2,
    * o2+Σs2 = mdat end. None on ANY structural malformation; Some with
    * ok=0 (and no stats) when the structure parses but the index lies.
    * Payload digest reads THROUGH the index (stco + recorded sizes), not
    * the raw mdat — the access path a sample extractor uses.
    */
  private[graft] def parseMp4Index(
      b: Array[Byte]): Option[(Long, Long, Long, Long)] = {
    val (mdat, traks) = mp4Top(b).getOrElse(return None)
    // (handler, stcoOffset, recorded sizes) per trak
    val idx = traks.map { trak =>
      val (handler, _, inStbl) = mp4Track(b, trak).getOrElse(return None)
      val stsz = inStbl.find(_.tpe == "stsz").getOrElse(return None)
      if (Bin.u32be(b, stsz.from) != 0L || Bin.u32be(b, stsz.from + 4) != 0L) return None
      val n = Bin.u32be(b, stsz.from + 8)
      if (n < 0 || n > 10000 || stsz.from + 12 + 4 * n > stsz.until) return None
      val sizes = Array.tabulate(n.toInt)(j => Bin.u32be(b, stsz.from + 12 + 4 * j))
      val stco = inStbl.find(_.tpe == "stco").getOrElse(return None)
      if (Bin.u32be(b, stco.from) != 0L || Bin.u32be(b, stco.from + 4) != 1L) return None
      (handler, Bin.u32be(b, stco.from + 8), sizes)
    }
    if (idx.map(_._1) != Seq("vide", "soun")) return None
    val Seq((_, o1, s1), (_, o2, s2)) = idx
    // the index/layout cross-check — the honest-negative lane's catch
    val okIndex = o1 == mdat.from.toLong &&
      o1 + s1.sum == o2 && o2 + s2.sum == mdat.until.toLong
    if (!okIndex) return Some((0L, 0L, 0L, 0L))
    var dg = 0L
    var p = o1
    for (s <- s1 ++ s2) {
      var k = 0L
      while (k < s) {
        dg = (dg * 131L + (b((p + k).toInt) & 0xff)) % DigP
        k += 1
      }
      p += s
    }
    Some((1L, (s1.length + s2.length).toLong, s1.sum + s2.sum, dg))
  }

  def mp4IndexPartition(rows: Iterator[TarIn]): Iterator[Mp4Stats] =
    rows.grouped(Multimodal.decodeBatchSize).flatMap(_.iterator.map { t =>
      parseMp4Index(mp4FullBytes(t)) match {
        case Some((ok, n, pb, dg)) => Mp4Stats(t.doc_id, t.source, ok, n, pb, dg)
        case None => Mp4Stats(t.doc_id, t.source, 0L, 0L, 0L, 0L)
      }
    })

  // ---------------------------------------------------------------- q335
  // Multi-chunk sample tables — the layout REAL muxers emit: samples
  // grouped into interleaved chunks (video chunk, audio chunk, video
  // chunk ...), addressed by the stsc (sample→chunk runs) / stco (chunk
  // offsets) / stts (time-to-sample) trio. q330 proves the box walk on
  // the one-chunk degenerate case; this proves the INDEX RECONSTRUCTION:
  // per-sample absolute offsets derived from the three tables must tile
  // the mdat exactly, and the stts durations must foot to the mdhd.

  final case class Mp4ChunkStats(doc_id: Long, source: String, ok: Long,
      n_samples: Long, n_chunks: Long, payload_bytes: Long,
      payload_digest: Long, dur_ticks: Long)

  /** Chunked two-track ISO-BMFF: track 1's samples split into two chunks
    * INTERLEAVED around track 2's single chunk (v-chunk, a-chunk,
    * v-chunk — the real streaming layout), stsc carrying genuine
    * multi-run entries, stts one run per track (delta 1024 / 800), mdhd
    * duration = Σ stts. doc_id % 79 gets the mdhd duration falsified
    * (+1024) — the structure parses; only the stts-vs-mdhd footing
    * catches it.
    */
  private[graft] def mp4ChunkedBytes(t: TarIn): Array[Byte] = {
    val id = t.doc_id
    val n1 = (3 + id % 5).toInt; val n2 = (2 + id % 4).toInt
    val s1 = Array.tabulate(n1)(j => mp4SampleSize(id, 1, j))
    val s2 = Array.tabulate(n2)(j => mp4SampleSize(id, 2, j))
    val h1 = (n1 + 1) / 2 // track-1 chunk split: ceil half
    val badDur = id % 79L == 0L
    def trak(w: Bin.Writer, tid: Long, handler: String, sizes: Array[Int], delta: Long,
        chunks: Seq[(Long, Int)], stscRuns: Seq[(Long, Long)],
        durBump: Long): Unit =
      // chunks: (offset, nSamples) in chunk-index order; stscRuns:
      // (firstChunk, samplesPerChunk) runs
      mp4Trak(w, tid, handler, sizes.length * delta + durBump) {
        _.fullBox("stts", 0, 0)(_.be32(1L).be32(sizes.length.toLong).be32(delta))
          .fullBox("stsc", 0, 0) { s =>
            s.be32(stscRuns.length.toLong)
            stscRuns.foreach { case (fc, spc) => s.be32(fc).be32(spc).be32(1L) }
          }
          .fullBox("stsz", 0, 0) { s =>
            s.be32(0L).be32(sizes.length.toLong)
            sizes.foreach(sz => s.be32(sz.toLong))
          }
          .fullBox("stco", 0, 0) { s =>
            s.be32(chunks.length.toLong)
            chunks.foreach(c => s.be32(c._1))
          }
      }
    val ftyp = Bin.bytes(mp4Ftyp)
    val c1a = s1.take(h1).sum.toLong // track-1 chunk 1 bytes
    val c2 = s2.sum.toLong // track-2 chunk bytes
    def moov(base: Long): Array[Byte] = Bin.bytes(_.box("moov") { m =>
      mp4Mvhd(m)
      trak(m, 1L, "vide", s1, 1024L,
        Seq((base, h1), (base + c1a + c2, n1 - h1)),
        if (h1 == n1 - h1) Seq((1L, h1.toLong))
        else Seq((1L, h1.toLong), (2L, (n1 - h1).toLong)),
        if (badDur) 1024L else 0L)
      trak(m, 2L, "soun", s2, 800L, Seq((base + c1a, n2)),
        Seq((1L, n2.toLong)), 0L)
    })
    val base0 = ftyp.length + moov(0L).length + 8L
    Bin.bytes(_.bytes(ftyp).bytes(moov(base0)).box("mdat") { p =>
      // PHYSICAL order: v-chunk 1, a-chunk, v-chunk 2 (interleaved)
      for (j <- 0 until h1; k <- 0 until s1(j)) p.u8(mp4Byte(id, 1, j, k))
      for (j <- 0 until n2; k <- 0 until s2(j)) p.u8(mp4Byte(id, 2, j, k))
      for (j <- h1 until n1; k <- 0 until s1(j)) p.u8(mp4Byte(id, 1, j, k))
    })
  }

  /** Chunked walk: per trak parse stts/stsc/stsz/stco + the mdhd
    * duration, EXPAND the stsc runs to per-chunk sample counts, derive
    * every sample's absolute offset, then cross-check (a) the chunk
    * regions of BOTH tracks tile the mdat payload exactly (sorted, no
    * gap, no overlap), (b) Σ stts counts == sample count and
    * Σ count·delta == mdhd duration (the % 79 lane's catch). Digest
    * reads samples in LOGICAL track/sample order through the derived
    * offsets — over the interleaved physical layout, equality with the
    * q330-style closed form proves the reconstruction reorders
    * correctly. None on structural malformation; Some(ok=0) on a lying
    * index.
    */
  private[graft] def parseMp4Chunked(
      b: Array[Byte]): Option[(Long, Long, Long, Long, Long, Long)] = {
    val (mdat, traks) = mp4Top(b).getOrElse(return None)
    // per trak: (handler, duration, sttsRuns, chunk offsets, per-chunk
    // sample counts expanded from stsc, sizes)
    val idx = traks.map { trak =>
      val (handler, inMdia, inStbl) = mp4Track(b, trak).getOrElse(return None)
      val mdhd = inMdia.find(_.tpe == "mdhd").getOrElse(return None)
      if (mdhd.until - mdhd.from < 24) return None
      val dur = Bin.u32be(b, mdhd.from + 16)
      // full-box payload bounds (after the version+flags word, which
      // must be 0); Option so the failure propagates via getOrElse —
      // a bare `return` inside a nested def would exit the def, not
      // the parser
      def full(name: String): Option[(Int, Int)] =
        inStbl.find(_.tpe == name).flatMap { bx =>
          if (Bin.u32be(b, bx.from) != 0L) None else Some((bx.from + 4, bx.until))
        }
      val (sttsP, sttsE) = full("stts").getOrElse(return None)
      val nStts = Bin.u32be(b, sttsP)
      if (nStts < 1 || nStts > 1000 || sttsP + 4 + 8 * nStts > sttsE)
        return None
      val sttsRuns = Array.tabulate(nStts.toInt)(r =>
        (Bin.u32be(b, sttsP + 4 + 8 * r), Bin.u32be(b, sttsP + 8 + 8 * r)))
      val (stscP, stscE) = full("stsc").getOrElse(return None)
      val nStsc = Bin.u32be(b, stscP)
      if (nStsc < 1 || nStsc > 1000 || stscP + 4 + 12 * nStsc > stscE)
        return None
      val stscRuns = Array.tabulate(nStsc.toInt)(r =>
        (Bin.u32be(b, stscP + 4 + 12 * r), Bin.u32be(b, stscP + 8 + 12 * r),
          Bin.u32be(b, stscP + 12 + 12 * r)))
      if (stscRuns.exists(_._3 != 1L)) return None // one sample desc
      val (stszP, stszE) = full("stsz").getOrElse(return None)
      if (Bin.u32be(b, stszP) != 0L) return None
      val nSamp = Bin.u32be(b, stszP + 4)
      if (nSamp < 1 || nSamp > 10000 || stszP + 8 + 4 * nSamp > stszE)
        return None
      val sizes = Array.tabulate(nSamp.toInt)(j => Bin.u32be(b, stszP + 8 + 4 * j))
      val (stcoP, stcoE) = full("stco").getOrElse(return None)
      val nChunk = Bin.u32be(b, stcoP)
      if (nChunk < 1 || nChunk > 1000 || stcoP + 4 + 4 * nChunk > stcoE)
        return None
      val offs = Array.tabulate(nChunk.toInt)(c => Bin.u32be(b, stcoP + 4 + 4 * c))
      // expand stsc runs → per-chunk sample counts (14496-12 §8.7.4:
      // a run applies from first_chunk until the next run begins)
      if (stscRuns.head._1 != 1L) return None
      val perChunk = new Array[Long](nChunk.toInt)
      var r = 0
      for (c <- 0 until nChunk.toInt) {
        if (r + 1 < stscRuns.length && stscRuns(r + 1)._1 == c + 1L) r += 1
        perChunk(c) = stscRuns(r)._2
      }
      if (perChunk.sum != nSamp) return None
      (handler, dur, sttsRuns, offs, perChunk, sizes)
    }
    if (idx.map(_._1) != Seq("vide", "soun")) return None
    // stts footing per track: counts sum to samples, ticks to mdhd
    var durOk = true
    idx.foreach { case (_, dur, sttsRuns, _, _, sizes) =>
      if (sttsRuns.map(_._1).sum != sizes.length.toLong) return None
      if (sttsRuns.map { case (n, d) => n * d }.sum != dur) durOk = false
    }
    // derive per-sample offsets; collect chunk regions for the tiling
    val regions = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val sampleOffs = idx.map { case (_, _, _, offs, perChunk, sizes) =>
      val so = new Array[Long](sizes.length)
      var j = 0
      for (c <- offs.indices) {
        var p = offs(c)
        var t = 0L
        while (t < perChunk(c)) {
          so(j) = p; p += sizes(j); j += 1; t += 1
        }
        regions += ((offs(c), p - offs(c)))
      }
      so
    }
    val sorted = regions.sortBy(_._1)
    var cur = mdat.from.toLong
    sorted.foreach { case (o, l) =>
      if (o != cur) return Some((0L, 0L, 0L, 0L, 0L, 0L))
      cur = o + l
    }
    if (cur != mdat.until.toLong || !durOk)
      return Some((0L, 0L, 0L, 0L, 0L, 0L))
    var dg = 0L
    var pb = 0L
    for (t <- 0 to 1) {
      val (_, _, _, _, _, sizes) = idx(t)
      val so = sampleOffs(t)
      for (j <- sizes.indices) {
        var k = 0L
        while (k < sizes(j)) {
          dg = (dg * 131L + (b((so(j) + k).toInt) & 0xff)) % DigP
          k += 1
        }
        pb += sizes(j)
      }
    }
    Some((1L, idx.map(_._6.length.toLong).sum, regions.length.toLong, pb,
      dg, idx.map(_._2).sum))
  }

  def mp4ChunkedPartition(rows: Iterator[TarIn]): Iterator[Mp4ChunkStats] =
    rows.grouped(Multimodal.decodeBatchSize).flatMap(_.iterator.map { t =>
      parseMp4Chunked(mp4ChunkedBytes(t)) match {
        case Some((ok, n, nc, pb, dg, dur)) =>
          Mp4ChunkStats(t.doc_id, t.source, ok, n, nc, pb, dg, dur)
        case None => Mp4ChunkStats(t.doc_id, t.source, 0L, 0L, 0L, 0L, 0L, 0L)
      }
    })

  private[graft] val Mp4ChunkOracle: String =
    sql"""WITH m AS (SELECT source, doc_id,
       |    CAST(3 + doc_id % 5 AS BIGINT) AS n1,
       |    CAST(2 + doc_id % 4 AS BIGINT) AS n2,
       |    doc_id % 79 = 0 AS bad
       |  FROM documents),
       |x AS (SELECT source, doc_id, n1, n2, bad,
       |    flatten(list_transform(range(0, n1), j ->
       |      list_transform(range(0, 16 + (doc_id * 7 + j * 13) % 32),
       |        k -> (doc_id + 31 + j * 17 + k * 7) % 251))) AS b1,
       |    flatten(list_transform(range(0, n2), j ->
       |      list_transform(range(0, 8 + (doc_id * 11 + j * 5) % 24),
       |        k -> (doc_id + 62 + j * 17 + k * 7) % 251))) AS b2
       |  FROM m),
       |d AS (SELECT source, bad,
       |    CASE WHEN bad THEN 0 ELSE n1 + n2 END AS ns,
       |    CASE WHEN bad THEN 0 ELSE 3 END AS nc,
       |    CASE WHEN bad THEN 0 ELSE len(b1) + len(b2) END AS pb,
       |    CASE WHEN bad THEN 0 ELSE
       |      ${polyFold("list_concat(b1, b2)", v = "v")} END AS dg,
       |    CASE WHEN bad THEN 0 ELSE n1 * 1024 + n2 * 800 END AS dur
       |  FROM x)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_files,
       |  CAST(sum(CASE WHEN bad THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_bad_index,
       |  CAST(sum(ns) AS BIGINT) AS n_samples,
       |  CAST(sum(nc) AS BIGINT) AS n_chunks,
       |  CAST(sum(pb) AS BIGINT) AS payload_bytes,
       |  CAST(sum(dg) % $DigP AS BIGINT) AS payload_digest,
       |  CAST(sum(dur) AS BIGINT) AS dur_ticks
       |FROM d GROUP BY source ORDER BY source"""

  private[graft] val Mp4Oracle: String =
    sql"""WITH m AS (SELECT source, doc_id,
       |    CAST(3 + doc_id % 5 AS BIGINT) AS n1,
       |    CAST(2 + doc_id % 4 AS BIGINT) AS n2,
       |    doc_id % 67 = 0 AS bad
       |  FROM documents),
       |x AS (SELECT source, doc_id, n1, n2, bad,
       |    flatten(list_transform(range(0, n1), j ->
       |      list_transform(range(0, 16 + (doc_id * 7 + j * 13) % 32),
       |        k -> (doc_id + 31 + j * 17 + k * 7) % 251))) AS b1,
       |    flatten(list_transform(range(0, n2), j ->
       |      list_transform(range(0, 8 + (doc_id * 11 + j * 5) % 24),
       |        k -> (doc_id + 62 + j * 17 + k * 7) % 251))) AS b2
       |  FROM m),
       |d AS (SELECT source, bad,
       |    CASE WHEN bad THEN 0 ELSE n1 + n2 END AS ns,
       |    CASE WHEN bad THEN 0 ELSE len(b1) + len(b2) END AS pb,
       |    CASE WHEN bad THEN 0 ELSE
       |      ${polyFold("list_concat(b1, b2)", v = "v")} END AS dg
       |  FROM x)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_files,
       |  CAST(sum(CASE WHEN bad THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_bad_index,
       |  CAST(sum(ns) AS BIGINT) AS n_samples,
       |  CAST(sum(pb) AS BIGINT) AS payload_bytes,
       |  CAST(sum(dg) % $DigP AS BIGINT) AS payload_digest
       |FROM d GROUP BY source ORDER BY source"""

  // ---------------------------------------------------------------- q331
  // Spectral bin energy over the decoded mu-law PCM — the audio-quality
  // probe a speech pipeline runs before training (q328 proves the codec;
  // this consumes its output). Frames of 8 samples through the three
  // INTEGER-EXACT bins of the 8-point DFT (k = 0, 2, 4, whose basis
  // vectors are {0, ±1}-valued — a Goertzel at these bins needs no
  // irrational coefficient), so Spark and DuckDB agree bit-for-bit with
  // no float rule needed.

  final case class ToneStats(doc_id: Long, source: String, recovered: Long,
      e0: Long, e2: Long, e4: Long)

  /** Planted test signal: a pure tone in bin 2·(doc_id % 3) of the
    * 8-point DFT at amplitude 8000 + (doc_id % 7)·1000, plus a small
    * deterministic dither (±4) so the off-bin energies are genuinely
    * nonzero and the recovery below is a real argmax, not 0-vs-positive.
    */
  private[graft] def toneOf(id: Long, i: Int): Int = {
    val amp = (8000L + (id % 7L) * 1000L).toInt
    val tb = (2L * (id % 3L)).toInt
    val base = tb match {
      case 0 => amp
      case 2 => (i % 4) match { case 0 => amp; case 2 => -amp; case _ => 0 }
      case _ => if (i % 2 == 0) amp else -amp
    }
    base + (((id + i * 7L) % 9L) - 4L).toInt
  }

  def toneProbePartition(rows: Iterator[TarIn]): Iterator[ToneStats] =
    rows.grouped(Multimodal.decodeBatchSize).flatMap(_.iterator.map { t =>
      val id = t.doc_id
      val n = (64L + 8L * (id % 8L)).toInt
      // THROUGH the real codec: companding loss included in the energies
      val xs = Array.tabulate(n)(i => ulawDecode(ulawEncode(toneOf(id, i))))
      var (e0, e2, e4) = (0L, 0L, 0L)
      var m = 0
      while (m < n / 8) {
        val o = 8 * m
        val sum = (0 until 8).map(k => xs(o + k).toLong).sum
        val re2 = xs(o).toLong - xs(o + 2) + xs(o + 4) - xs(o + 6)
        val im2 = -xs(o + 1).toLong + xs(o + 3) - xs(o + 5) + xs(o + 7)
        val alt = (0 until 8).map(k =>
          (if (k % 2 == 0) 1L else -1L) * xs(o + k)).sum
        e0 += sum * sum
        e2 += re2 * re2 + im2 * im2
        e4 += alt * alt
        m += 1
      }
      val tb = 2L * (id % 3L)
      val recovered =
        if (tb == 0L) e0 >= e2 && e0 >= e4
        else if (tb == 2L) e2 >= e0 && e2 >= e4
        else e4 >= e0 && e4 >= e2
      ToneStats(id, t.source, if (recovered) 1L else 0L, e0, e2, e4)
    })

  // ---------------------------------------------------------------- q336
  // MPEG-1 Layer III frame-sync walk — the podcast/speech-crawl audio
  // container beside WAV (q104/q225) and mu-law (q328): no global
  // directory, just self-describing 4-byte frame headers chained by the
  // length formula len = 144·bitrate/samplerate + padding. A walker
  // with a wrong table or formula lands mid-frame and loses sync — the
  // structure IS the checksum.

  final case class Mp3Stats(doc_id: Long, source: String, ok: Long,
      tagged: Long, n_frames: Long, payload_bytes: Long, kbps_sum: Long,
      digest: Long)

  /** MPEG-1 Layer III bitrate table (kbps), index 1..14. */
  private val Mp3Kbps: Array[Int] =
    Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
  private val Mp3Sr: Array[Int] = Array(44100, 48000, 32000)

  private def mp3Bi(id: Long, f: Int): Int = (1L + (id + f * 3L) % 14L).toInt
  private def mp3Pad(id: Long, f: Int): Int = ((id + f) % 2L).toInt
  private def mp3FrameLen(id: Long, f: Int): Int = {
    val sr = Mp3Sr((id % 3L).toInt)
    (144000L * Mp3Kbps(mp3Bi(id, f)) / sr).toInt + mp3Pad(id, f)
  }

  /** VBR MPEG-1 Layer III stream for one doc: 4 + id % 6 frames, the
    * bitrate index VARYING per frame (the real VBR shape — a reader
    * cannot multiply its way through, it must walk), samplerate fixed
    * per doc, padding alternating, mono, protection=1 (no CRC16).
    * Payload filler is the deterministic generator. doc_id % 83 gets
    * frame 1's bitrate index set to the FORBIDDEN 0xF — a structural
    * malformation mid-stream (the walk must refuse, not resync past it).
    */
  private[graft] def mp3Bytes(t: TarIn): Array[Byte] = {
    val id = t.doc_id
    val n = (4 + id % 6).toInt
    val si = (id % 3L).toInt
    val out = new Bin.Writer
    // ID3v2 lane (r19 verdict #7): real-world MP3s almost always OPEN
    // with an ID3v2 tag, so doc_id % 5 prepends one — 10-byte header
    // ("ID3", v2.4.0, flags 0) + a syncsafe 28-bit body size + filler
    // body. The walker must SKIP it before frame-sync, not refuse it.
    // doc_id % 89 corrupts a syncsafe size byte (high bit set — illegal
    // by construction in syncsafe integers): the falsification lane.
    if (id % 5L == 0L) {
      val bodyLen = (10 + id % 17L).toInt
      out.ascii("ID3").u8(4).u8(0) // v2.4.0
        .u8(0) // flags
        .u8(0).u8(0)
        .u8(if (id % 89L == 0L) 0x81 else 0)
        .u8(bodyLen)
      for (k <- 0 until bodyLen)
        out.u8(((id + k * 31L) % 251L).toInt)
    }
    for (f <- 0 until n) {
      val bi = if (id % 83L == 0L && f == 1) 0xf else mp3Bi(id, f)
      val pad = mp3Pad(id, f)
      // header: sync(11) version 11 (MPEG-1), layer 01 (III),
      // protection 1; then bitrate(4) samplerate(2) padding(1)
      // private(0); channel mode 11 (mono), rest zeros
      out.u8(0xff).u8(0xfb)
        .u8((bi << 4) | (si << 2) | (pad << 1))
        .u8(0xc0)
      // the corrupted-lane frame still carries its true-length payload:
      // only the HEADER lies, which is exactly what the walk must catch
      val len = mp3FrameLen(id, f)
      for (k <- 0 until len - 4)
        out.u8(((id + f * 13L + k * 7L) % 251L).toInt)
    }
    out.result
  }

  /** Frame walk: per frame verify the sync word, version/layer bits,
    * a LEGAL bitrate index and samplerate, recompute the frame length
    * from the tables, digest the payload, and jump. The stream must end
    * exactly on a frame boundary. None on ANY malformation — including
    * the forbidden bitrate index and a final truncated frame.
    */
  private[graft] def parseMp3(
      b: Array[Byte]): Option[(Long, Long, Long, Long, Long)] = {
    var p = 0
    var nf = 0L
    var pb = 0L
    var kb = 0L
    var dg = 0L
    var tagged = 0L
    // ID3v2 tag allowed ONLY at the very start of the stream: "ID3",
    // version major 2..4 (minor never 0xff), flags byte, then a 28-bit
    // SYNCSAFE size — any size byte with the high bit set is structurally
    // illegal and refused, as is a size pointing past the buffer. A tag
    // mid-stream is refused automatically: 'I' (0x49) can never match the
    // 0xff frame sync.
    if (b.length >= 3 && b(0) == 'I' && b(1) == 'D' && b(2) == '3') {
      if (b.length < 10) return None
      val major = b(3) & 0xff
      if (major < 2 || major > 4 || (b(4) & 0xff) == 0xff) return None
      var size = 0
      var i = 6
      while (i < 10) {
        if ((b(i) & 0x80) != 0) return None
        size = (size << 7) | (b(i) & 0x7f)
        i += 1
      }
      if (10L + size > b.length) return None
      p = 10 + size
      tagged = 1L
    }
    while (p < b.length) {
      if (p + 4 > b.length) return None
      if ((b(p) & 0xff) != 0xff || (b(p + 1) & 0xff) != 0xfb) return None
      val h2 = b(p + 2) & 0xff
      val bi = h2 >> 4
      val si = (h2 >> 2) & 3
      val pad = (h2 >> 1) & 1
      if (bi < 1 || bi > 14 || si > 2) return None
      if ((b(p + 3) & 0xff) != 0xc0) return None
      val len = (144000L * Mp3Kbps(bi) / Mp3Sr(si)).toInt + pad
      if (p + len > b.length) return None
      var k = 4
      while (k < len) {
        dg = (dg * 131L + (b(p + k) & 0xff)) % DigP
        k += 1
      }
      nf += 1; pb += len - 4; kb += Mp3Kbps(bi)
      p += len
    }
    if (nf == 0L) None else Some((nf, pb, kb, dg, tagged))
  }

  def mp3IndexPartition(rows: Iterator[TarIn]): Iterator[Mp3Stats] =
    rows.grouped(Multimodal.decodeBatchSize).flatMap(_.iterator.map { t =>
      parseMp3(mp3Bytes(t)) match {
        case Some((nf, pb, kb, dg, tg)) =>
          Mp3Stats(t.doc_id, t.source, 1L, tg, nf, pb, kb, dg)
        case None => Mp3Stats(t.doc_id, t.source, 0L, 0L, 0L, 0L, 0L, 0L)
      }
    })

  private[graft] val Mp3Oracle: String = {
    // the bitrate table as a generated CASE over the per-frame index
    val BI = "(1 + (doc_id + f * 3) % 14)"
    val KBPS = s"(CASE $BI " + (1 to 14).map(i =>
      s"WHEN $i THEN ${Mp3Kbps(i)}").mkString(" ") + " END)"
    val SR = "(CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000" +
      " ELSE 32000 END)"
    val LEN = s"(144000 * $KBPS // $SR + (doc_id + f) % 2)"
    s"""WITH m AS (SELECT source, doc_id,
       |    CAST(4 + doc_id % 6 AS BIGINT) AS n,
       |    doc_id % 83 = 0
       |      OR (doc_id % 5 = 0 AND doc_id % 89 = 0) AS bad
       |  FROM documents),
       |d AS (SELECT source, bad,
       |    CASE WHEN NOT bad AND doc_id % 5 = 0 THEN 1 ELSE 0 END AS tg,
       |    CASE WHEN bad THEN 0 ELSE n END AS nf,
       |    CASE WHEN bad THEN 0 ELSE CAST(list_sum(list_transform(
       |      range(0, n), f -> $LEN - 4)) AS BIGINT) END AS pb,
       |    CASE WHEN bad THEN 0 ELSE CAST(list_sum(list_transform(
       |      range(0, n), f -> $KBPS)) AS BIGINT) END AS kb,
       |    CASE WHEN bad THEN 0 ELSE
       |      list_reduce(list_prepend(CAST(0 AS BIGINT),
       |        flatten(list_transform(range(0, n), f ->
       |          list_transform(range(0, $LEN - 4),
       |            k -> (doc_id + f * 13 + k * 7) % 251)))),
       |        (a, v) -> (a * 131 + v) % $DigP) END AS dg
       |  FROM m)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_files,
       |  CAST(sum(CASE WHEN bad THEN 1 ELSE 0 END) AS BIGINT) AS n_bad,
       |  CAST(sum(tg) AS BIGINT) AS n_tagged,
       |  CAST(sum(nf) AS BIGINT) AS n_frames,
       |  CAST(sum(pb) AS BIGINT) AS payload_bytes,
       |  CAST(sum(kb) AS BIGINT) AS kbps_sum,
       |  CAST(sum(dg) % $DigP AS BIGINT) AS payload_digest
       |FROM d GROUP BY source ORDER BY source""".stripMargin
  }

  // ---------------------------------------------------------------- q343
  // WebM/Matroska (EBML) walk — the other dominant video container
  // beside MP4 (q330/q335): no fixed-width boxes, everything is
  // (varint id, varint size, content). A walker with a wrong varint
  // marker rule lands mid-element and loses the tree — the framing IS
  // the checksum.

  final case class WebmStats(doc_id: Long, source: String, ok: Long,
      n_clusters: Long, n_blocks: Long, frame_bytes: Long, digest: Long,
      tc_sum: Long)

  /** EBML varint size encoding (minimal length, 1-2 bytes cover every
    * size this synthesis emits; the WALKER decodes 1..8 generically).
    */
  private def ebmlSize(v: Int): Array[Byte] =
    if (v < 0x7f) Array((0x80 | v).toByte)
    else {
      require(v < 0x3fff, s"ebmlSize: $v")
      Array((0x40 | (v >> 8)).toByte, (v & 0xff).toByte)
    }

  private def ebmlElem(id: Array[Int], payload: Array[Byte]): Array[Byte] =
    id.map(_.toByte) ++ ebmlSize(payload.length) ++ payload

  private def ebmlUint(id: Array[Int], v: Long): Array[Byte] = {
    var n = 1
    while (n < 8 && (v >> (8 * n)) != 0) n += 1
    ebmlElem(id, Array.tabulate(n)(k => ((v >> (8 * (n - 1 - k))) & 0xff).toByte))
  }

  private val EbmlHeader = Array(0x1a, 0x45, 0xdf, 0xa3)
  private val EbmlSegment = Array(0x18, 0x53, 0x80, 0x67)
  private val EbmlInfo = Array(0x15, 0x49, 0xa9, 0x66)
  private val EbmlTcScale = Array(0x2a, 0xd7, 0xb1)
  private val EbmlTracks = Array(0x16, 0x54, 0xae, 0x6b)
  private val EbmlTrackEntry = Array(0xae)
  private val EbmlTrackNum = Array(0xd7)
  private val EbmlTrackType = Array(0x83)
  private val EbmlCodecId = Array(0x86)
  private val EbmlCluster = Array(0x1f, 0x43, 0xb6, 0x75)
  private val EbmlTimecode = Array(0xe7)
  private val EbmlSimpleBlock = Array(0xa3)
  private val EbmlDocType = Array(0x42, 0x82)
  private val EbmlVersion = Array(0x42, 0x86)

  /** Per-doc synthesis closed forms (shared with the oracle and suite):
    * 2 + id % 3 clusters, 1 + (id + c) % 3 SimpleBlocks per cluster,
    * frame length 5 + (id + c + b) % 9, frame byte
    * (id + 17c + 13b + 7k) % 251, block track 1 + (b + c) % 2, relative
    * timecode 40b, cluster timecode 1000c — except the doc_id % 59 lane,
    * where the LAST TWO cluster timecodes are swapped (parses fine; only
    * the monotonicity footing catches it). doc_id % 71 inflates one
    * SimpleBlock's declared size by 3 — the children stop tiling the
    * cluster: structural, refused.
    */
  private[graft] def webmClusterTc(id: Long, c: Int, nc: Int): Long =
    if (id % 59L == 0L && c == nc - 2) 1000L * (nc - 1)
    else if (id % 59L == 0L && c == nc - 1) 1000L * (nc - 2)
    else 1000L * c

  private[graft] def webmBytes(t: TarIn): Array[Byte] = {
    val id = t.doc_id
    val nc = (2 + id % 3).toInt
    val header = ebmlElem(EbmlHeader,
      ebmlUint(EbmlVersion, 1L) ++
        ebmlElem(EbmlDocType, "webm".getBytes(
          java.nio.charset.StandardCharsets.US_ASCII)))
    val info = ebmlElem(EbmlInfo, ebmlUint(EbmlTcScale, 1000000L))
    def track(num: Long, tpe: Long, codec: String): Array[Byte] =
      ebmlElem(EbmlTrackEntry,
        ebmlUint(EbmlTrackNum, num) ++ ebmlUint(EbmlTrackType, tpe) ++
          ebmlElem(EbmlCodecId, codec.getBytes(
            java.nio.charset.StandardCharsets.US_ASCII)))
    val tracks = ebmlElem(EbmlTracks,
      track(1L, 1L, "V_VP9") ++ track(2L, 2L, "A_OPUS"))
    val clusters = (0 until nc).flatMap { c =>
      val nb = (1 + (id + c) % 3).toInt
      val blocks = (0 until nb).flatMap { b =>
        val fl = (5 + (id + c + b) % 9).toInt
        val tn = 1 + ((b + c) % 2)
        val payload =
          Array((0x80 | tn).toByte, // track number varint
            ((40 * b) >> 8).toByte, (40 * b & 0xff).toByte, // rel tc
            0x80.toByte) ++ // flags: keyframe
            Array.tabulate(fl)(k => ((id + 17L * c + 13L * b + 7L * k) % 251L).toByte)
        val el = ebmlElem(EbmlSimpleBlock, payload)
        // the % 71 lane: inflate THIS block's declared size by 3 (first
        // block of the first cluster) — the element claims bytes the
        // cluster doesn't have
        if (id % 71L == 0L && c == 0 && b == 0) {
          val sz = ebmlSize(payload.length + 3)
          EbmlSimpleBlock.map(_.toByte) ++ sz ++ payload
        } else el
      }.toArray
      ebmlElem(EbmlCluster,
        ebmlUint(EbmlTimecode, webmClusterTc(id, c, nc)) ++ blocks)
    }.toArray
    header ++ ebmlElem(EbmlSegment, info ++ tracks ++ clusters)
  }

  /** EBML walk: generic varint id/size decode (1..4-byte ids, 1..8-byte
    * sizes, zero-marker and unknown-size refused), every element must
    * tile its parent exactly, DocType must be webm, TimecodeScale
    * verified, SimpleBlock track numbers must name a declared track,
    * cluster timecodes must be STRICTLY increasing (the % 59 lane's
    * catch — Some(ok=0), it parsed but lies). None on ANY structural
    * malformation.
    */
  private[graft] def parseWebm(
      b: Array[Byte]): Option[(Long, Long, Long, Long, Long, Long)] = {
    // returns (ok, nClusters, nBlocks, frameBytes, digest, tcSum)
    def readId(p: Int, end: Int): Option[(Long, Int)] = {
      if (p >= end) return None
      val f = b(p) & 0xff
      if (f == 0) return None
      val n = Integer.numberOfLeadingZeros(f) - 23 // 1..8 for f in 1..255
      if (n < 1 || n > 4 || p + n > end) return None
      var v = f.toLong // ids keep their marker bits
      for (k <- 1 until n) v = (v << 8) | (b(p + k) & 0xff)
      Some((v, n))
    }
    def readSize(p: Int, end: Int): Option[(Long, Int)] = {
      if (p >= end) return None
      val f = b(p) & 0xff
      if (f == 0) return None
      val n = Integer.numberOfLeadingZeros(f) - 23
      if (n < 1 || n > 8 || p + n > end) return None
      var v = (f & (0xff >> n)).toLong
      var all1 = v == (0xffL >> n)
      for (k <- 1 until n) {
        val c = b(p + k) & 0xff
        v = (v << 8) | c
        all1 &&= c == 0xff
      }
      if (all1) return None // unknown-size elements refused: ingest gate
      Some((v, n))
    }
    def idOf(a: Array[Int]): Long =
      a.foldLeft(0L)((acc, x) => (acc << 8) | x)
    // walk children of [from, to): (id, contentFrom, contentTo)
    def walk(from: Int, to: Int): Option[Seq[(Long, Int, Int)]] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Int)]
      var p = from
      while (p < to) {
        val (id, in) = readId(p, to).getOrElse(return None)
        val (sz, sn) = readSize(p + in, to).getOrElse(return None)
        val cs = p + in + sn
        if (cs + sz > to) return None
        out += ((id, cs, (cs + sz).toInt))
        p = (cs + sz).toInt
      }
      Some(out.toSeq)
    }
    def uintOf(from: Int, to: Int): Option[Long] = {
      if (to - from < 1 || to - from > 8) return None
      var v = 0L
      for (k <- from until to) v = (v << 8) | (b(k) & 0xff)
      Some(v)
    }
    val top = walk(0, b.length).getOrElse(return None)
    if (top.length != 2) return None
    if (top(0)._1 != idOf(EbmlHeader) || top(1)._1 != idOf(EbmlSegment))
      return None
    val hdr = walk(top(0)._2, top(0)._3).getOrElse(return None)
    val doctype = hdr.find(_._1 == idOf(EbmlDocType)).getOrElse(return None)
    if (new String(b, doctype._2, doctype._3 - doctype._2,
      java.nio.charset.StandardCharsets.US_ASCII) != "webm") return None
    val seg = walk(top(1)._2, top(1)._3).getOrElse(return None)
    val info = seg.find(_._1 == idOf(EbmlInfo)).getOrElse(return None)
    val inInfo = walk(info._2, info._3).getOrElse(return None)
    val tcs = inInfo.find(_._1 == idOf(EbmlTcScale)).getOrElse(return None)
    if (!uintOf(tcs._2, tcs._3).contains(1000000L)) return None
    val trks = seg.find(_._1 == idOf(EbmlTracks)).getOrElse(return None)
    val entries = walk(trks._2, trks._3).getOrElse(return None)
      .filter(_._1 == idOf(EbmlTrackEntry))
    if (entries.isEmpty) return None
    val trackNums = entries.map { case (_, f, t) =>
      val in = walk(f, t).getOrElse(return None)
      val tn = in.find(_._1 == idOf(EbmlTrackNum)).getOrElse(return None)
      uintOf(tn._2, tn._3).getOrElse(return None)
    }.toSet
    var (ncl, nbl, fb, dg, tcSum) = (0L, 0L, 0L, 0L, 0L)
    var lastTc = -1L
    var monotonic = true
    for ((cid, cf, ct) <- seg if cid == idOf(EbmlCluster)) {
      ncl += 1
      val children = walk(cf, ct).getOrElse(return None)
      val tce = children.find(_._1 == idOf(EbmlTimecode))
        .getOrElse(return None)
      val ctc = uintOf(tce._2, tce._3).getOrElse(return None)
      if (ctc <= lastTc) monotonic = false
      lastTc = ctc
      for ((bid, bf, bt) <- children if bid == idOf(EbmlSimpleBlock)) {
        // block payload: track varint, s16 relative timecode, flags
        if (bt - bf < 4) return None
        val tf = b(bf) & 0xff
        if (tf == 0) return None
        val tn2 = Integer.numberOfLeadingZeros(tf) - 23
        if (tn2 != 1) return None // tracks 1..2: 1-byte varint
        val tnum = (tf & 0x7f).toLong
        if (!trackNums.contains(tnum)) return None
        // s16 big-endian (Matroska spec): sign-extend — a negative
        // relative timecode must not inflate tc_sum by 65536
        val rel = ((((b(bf + 1) & 0xff) << 8) |
          (b(bf + 2) & 0xff)).toShort).toLong
        nbl += 1
        tcSum += ctc + rel
        var k = bf + 4
        while (k < bt) {
          dg = (dg * 131L + (b(k) & 0xff)) % DigP
          fb += 1
          k += 1
        }
      }
    }
    if (ncl == 0L) return None
    Some((if (monotonic) 1L else 0L, ncl, nbl, fb, dg, tcSum))
  }

  def webmPartition(rows: Iterator[TarIn]): Iterator[WebmStats] =
    rows.grouped(Multimodal.decodeBatchSize).flatMap(_.iterator.map { t =>
      parseWebm(webmBytes(t)) match {
        case Some((ok, nc, nb, fb, dg, tc)) =>
          WebmStats(t.doc_id, t.source, ok, nc, nb, fb, dg, tc)
        case None => WebmStats(t.doc_id, t.source, -1L, 0L, 0L, 0L, 0L, 0L)
      }
    })

  private[graft] val WebmOracle: String = {
    val NB = "(1 + (doc_id + c) % 3)"
    val FL = "(5 + (doc_id + c + b) % 9)"
    val CTC = """(CASE WHEN doc_id % 59 = 0 AND c = nc - 2
      THEN 1000 * (nc - 1)
      WHEN doc_id % 59 = 0 AND c = nc - 1 THEN 1000 * (nc - 2)
      ELSE 1000 * c END)"""
    s"""WITH m AS (SELECT source, doc_id,
       |    CAST(2 + doc_id % 3 AS BIGINT) AS nc,
       |    doc_id % 71 = 0 AS struct_bad,
       |    doc_id % 59 = 0 AND doc_id % 71 <> 0 AS foot_bad
       |  FROM documents),
       |d AS (SELECT source, struct_bad, foot_bad,
       |    CASE WHEN struct_bad THEN 0 ELSE nc END AS ncl,
       |    CASE WHEN struct_bad THEN 0 ELSE CAST(list_sum(list_transform(
       |      range(0, nc), c -> $NB)) AS BIGINT) END AS nbl,
       |    CASE WHEN struct_bad THEN 0 ELSE CAST(list_sum(list_transform(
       |      range(0, nc), c -> CAST(list_sum(list_transform(
       |        range(0, $NB), b -> $FL)) AS BIGINT))) AS BIGINT) END AS fb,
       |    CASE WHEN struct_bad THEN 0 ELSE
       |      list_reduce(list_prepend(CAST(0 AS BIGINT),
       |        flatten(list_transform(range(0, nc), c ->
       |          flatten(list_transform(range(0, $NB), b ->
       |            list_transform(range(0, $FL), k ->
       |              (doc_id + 17 * c + 13 * b + 7 * k) % 251)))))),
       |        (a, v) -> (a * 131 + v) % $DigP) END AS dg,
       |    CASE WHEN struct_bad THEN 0 ELSE CAST(list_sum(list_transform(
       |      range(0, nc), c -> CAST(list_sum(list_transform(
       |        range(0, $NB), b -> $CTC + 40 * b))
       |        AS BIGINT))) AS BIGINT) END AS tc
       |  FROM m)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_files,
       |  CAST(sum(CASE WHEN struct_bad THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_parse_fail,
       |  CAST(sum(CASE WHEN foot_bad THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_foot_fail,
       |  CAST(sum(ncl) AS BIGINT) AS n_clusters,
       |  CAST(sum(nbl) AS BIGINT) AS n_blocks,
       |  CAST(sum(fb) AS BIGINT) AS frame_bytes,
       |  CAST(sum(dg) % $DigP AS BIGINT) AS frame_digest,
       |  CAST(sum(tc % $DigP) % $DigP AS BIGINT) AS tc_digest
       |FROM d GROUP BY source ORDER BY source""".stripMargin
  }

  private[graft] val ToneOracle: String = {
    val tone = "(CASE 2 * (doc_id % 3) WHEN 0 THEN 8000 + (doc_id % 7) * 1000" +
      " WHEN 2 THEN (8000 + (doc_id % 7) * 1000) * (CASE i % 4 WHEN 0 THEN 1" +
      " WHEN 2 THEN -1 ELSE 0 END)" +
      " ELSE (8000 + (doc_id % 7) * 1000) * (1 - 2 * (i % 2)) END" +
      " + (doc_id + i * 7) % 9 - 4)"
    val (_, shat) = ulawSqlParts(tone)
    def xi(k: Int): String = s"xs[8 * m + ${k + 1}]"
    val sum = (0 until 8).map(xi).mkString("(", " + ", ")")
    val re2 = s"(${xi(0)} - ${xi(2)} + ${xi(4)} - ${xi(6)})"
    val im2 = s"(-${xi(1)} + ${xi(3)} - ${xi(5)} + ${xi(7)})"
    val alt = (0 until 8).map(k =>
      (if (k % 2 == 0) "+ " else "- ") + xi(k)).mkString("(", " ", ")")
    s"""WITH m AS (SELECT source, doc_id,
       |    CAST(64 + 8 * (doc_id % 8) AS BIGINT) AS n,
       |    CAST(2 * (doc_id % 3) AS BIGINT) AS tb
       |  FROM documents),
       |x AS (SELECT source, doc_id, n, tb,
       |    list_transform(range(0, n), i -> CAST($shat AS BIGINT)) AS xs
       |  FROM m),
       |e AS (SELECT source, tb,
       |    CAST(list_sum(list_transform(range(0, n // 8), m ->
       |      $sum * $sum)) AS BIGINT) AS e0,
       |    CAST(list_sum(list_transform(range(0, n // 8), m ->
       |      $re2 * $re2 + $im2 * $im2)) AS BIGINT) AS e2,
       |    CAST(list_sum(list_transform(range(0, n // 8), m ->
       |      $alt * $alt)) AS BIGINT) AS e4
       |  FROM x)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_clips,
       |  CAST(sum(CASE WHEN (tb = 0 AND e0 >= e2 AND e0 >= e4)
       |    OR (tb = 2 AND e2 >= e0 AND e2 >= e4)
       |    OR (tb = 4 AND e4 >= e0 AND e4 >= e2)
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_recovered,
       |  CAST(sum(e0 % $DigP) % $DigP AS BIGINT) AS e0_sum,
       |  CAST(sum(e2 % $DigP) % $DigP AS BIGINT) AS e2_sum,
       |  CAST(sum(e4 % $DigP) % $DigP AS BIGINT) AS e4_sum
       |FROM e GROUP BY source ORDER BY source""".stripMargin
  }

  val entries: Seq[Entry] = Seq(

    // q319: GZIP MEMBER STREAM (WARC shape) — per doc a real two-member
    // concatenated gzip (RFC 1952 headers with FNAME, java.util.zip
    // Deflater bodies, CRC32+ISIZE trailers), walked back member-by-
    // member with a REAL Inflater and both trailer checks. The compressed
    // bytes are never in the output (zlib-version-dependent); the decoded
    // lengths, integrity verdicts, and name digest are, and the oracle
    // knows them in closed form. doc_id % 43 = member-1 CRC falsified
    // (parses, fails integrity); doc_id % 59 = trailer truncated
    // (structural parse failure → n_parse_fail lane, zero member stats).
    Entry(
      "q319_gzip_member_stream",
      (s, d) => {
        import s.implicits._
        tarInputs(s, d)
          .mapPartitions(gzipIndexPartition)
          .toDF()
          .groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_shards"),
            sum(col("n_members")).as("n_members"),
            sum(col("n_bad_checksum")).as("n_crc_bad"),
            sum(col("payload_bytes")).as("payload_bytes"),
            pmod(sum(col("name_digest")), lit(DigP)).as("name_digest"),
            sum(col("n_parse_fail")).as("n_parse_fail"))
          .orderBy(col("source"))
      },
      Some(GzipOracle)),

    // q320: TIFF IFD WALK + GRAY RASTER DIGEST — the offset-addressed
    // tag-directory format: the walk reads the directory wherever and in
    // whatever order it sits, cross-checks raster geometry against the
    // strip byte count (the % 47 falsification lane), and digests the
    // strip. Conformance: javax.imageio's TIFF reader reproduces the
    // pixels (suite). Map-only until the per-source rollup.
    Entry(
      "q320_tiff_ifd_walk",
      (s, d) => {
        import s.implicits._
        imgRollup(tarInputs(s, d)
          .mapPartitions(tiffDecodePartition)
          .toDF())
      },
      Some(TiffOracle)),

    // q321: BMP BOTTOM-UP PADDED-STRIDE DECODE — the two layout rules a
    // naive raster reader gets wrong (4-byte row padding at all four pad
    // widths, inverted row storage), proven by digesting in LOGICAL
    // top-down order; bfSize falsified on the % 31 lane (length
    // integrity). Conformance: javax.imageio's BMP reader (suite).
    Entry(
      "q321_bmp_decode",
      (s, d) => {
        import s.implicits._
        imgRollup(tarInputs(s, d)
          .mapPartitions(bmpDecodePartition)
          .toDF())
      },
      Some(BmpOracle)),

    // q325: UTF-8 BYTE-LEVEL VALIDATION AUDIT — raw crawl bytes through a
    // real RFC 3629 state machine with a documented consume-prefix error
    // policy, per-class accounting (overlong / lone continuation /
    // truncated / surrogate) + the valid-codepoint count, every class
    // planted on its own doc_id lane (lanes overlap — doc 0 carries all
    // four). Genuine multi-byte acceptance proven in the same stream
    // (every doc carries one é). Conformance: java.nio's strict
    // CharsetDecoder rejects exactly the planted-corrupt docs (suite).
    // Map-only until the per-source rollup.
    Entry(
      "q325_utf8_audit",
      (s, d) => {
        import s.implicits._
        tarInputs(s, d)
          .mapPartitions(utf8AuditPartition)
          .toDF()
          .groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("clean")).as("n_clean"),
            sum(col("n_overlong")).as("n_overlong"),
            sum(col("n_lone_cont")).as("n_lone_cont"),
            sum(col("n_truncated")).as("n_truncated"),
            sum(col("n_surrogate")).as("n_surrogate"),
            sum(col("valid_cp")).as("valid_cp"))
          .orderBy(col("source"))
      },
      Some(Utf8Oracle)),

    // q328: G.711 MU-LAW CODEC AUDIT — the first lossy AUDIO codec pair
    // (closing the asterisk q312 closed for images): logarithmic
    // companding encode at synthesis, chunk-walked mu-law WAV (fmt tag 7
    // + the spec-required fact chunk, cross-checked against the data
    // size — the % 53 falsification lane), REAL expand at decode, and
    // the reconstruction-error audit lossy pipelines gate on (Σerr²,
    // max |err| — bounded by the top mu-law segment's half-step).
    // Conformance: the JDK's own ULAW expansion agrees code-for-code on
    // all 256 values AND end-to-end through AudioSystem (suite).
    // Map-only until the per-source rollup.
    Entry(
      "q328_ulaw_codec",
      (s, d) => {
        import s.implicits._
        tarInputs(s, d)
          .mapPartitions(ulawAuditPartition)
          .toDF()
          .groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_clips"),
            sum(expr("1L - ok")).as("n_bad"),
            sum(col("n_samples")).as("n_samples"),
            pmod(sum(col("code_digest")), lit(DigP)).as("code_digest"),
            sum(col("energy_out")).as("energy_out"),
            sum(col("sum_err2")).as("sum_err2"),
            max(col("max_abs_err")).as("max_abs_err"))
          .orderBy(col("source"))
      },
      Some(UlawOracle)),

    // q330: MP4 / ISO-BMFF SAMPLE-TABLE INDEX — the q308/q315 container
    // pattern applied to the video class: per doc a real two-track box
    // tree (ftyp/moov/mvhd/trak/tkhd/mdia/mdhd/hdlr/minf/stbl/stsz/stco/
    // mdat, absolute offsets written by the genuine two-pass muxer), the
    // recursive walk back, and the index-vs-layout cross-check the
    // doc_id % 67 inflated-stsz lane falsifies. Payload digested THROUGH
    // the index (stco + recorded sizes), never by scanning mdat raw.
    // Map-only until the per-source rollup exchange.
    Entry(
      "q330_mp4_box_index",
      (s, d) => {
        import s.implicits._
        tarInputs(s, d)
          .mapPartitions(mp4IndexPartition)
          .toDF()
          .groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_files"),
            sum(expr("1L - ok")).as("n_bad_index"),
            sum(col("n_samples")).as("n_samples"),
            sum(col("payload_bytes")).as("payload_bytes"),
            pmod(sum(col("payload_digest")), lit(DigP)).as("payload_digest"))
          .orderBy(col("source"))
      },
      Some(Mp4Oracle)),

    // q331: SPECTRAL BIN ENERGY over decoded mu-law audio — planted-tone
    // recovery through the REAL codec (q328's encode+expand), framed
    // 8-sample integer-exact DFT bins 0/2/4, per-clip argmax recovery and
    // per-source energy sums. The oracle regenerates the decoded samples
    // through the SAME generated CODE/SHAT closed form (ulawSqlParts),
    // then the same {0,±1}-basis energies — bit-exact, no float rule.
    Entry(
      "q331_tone_bin_energy",
      (s, d) => {
        import s.implicits._
        tarInputs(s, d)
          .mapPartitions(toneProbePartition)
          .toDF()
          .groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_clips"),
            sum(col("recovered")).as("n_recovered"),
            // mod-P folds like every sibling digest (r19 ADVICE): a raw
            // sum of ~1e11-per-clip energies wraps Spark's Long silently
            // at very large per-source corpora while DuckDB promotes to
            // HUGEINT — the fold keeps both sides bounded and identical.
            // Per-clip energies stay raw (clip length ≤ 120 samples).
            pmod(sum(pmod(col("e0"), lit(DigP))), lit(DigP)).as("e0_sum"),
            pmod(sum(pmod(col("e2"), lit(DigP))), lit(DigP)).as("e2_sum"),
            pmod(sum(pmod(col("e4"), lit(DigP))), lit(DigP)).as("e4_sum"))
          .orderBy(col("source"))
      },
      Some(ToneOracle)),

    // q335: MULTI-CHUNK SAMPLE-TABLE RECONSTRUCTION — the full
    // stsc/stco/stts/stsz walk over the INTERLEAVED chunk layout real
    // muxers emit (v-chunk, a-chunk, v-chunk): per-sample offsets derived
    // by expanding the stsc runs, chunk regions proven to tile the mdat
    // exactly, stts footed against the mdhd duration (the % 79 falsified
    // duration lane). The digest reads samples in LOGICAL track/sample
    // order through the derived offsets — equality with the closed form
    // over the physically interleaved layout proves the reconstruction
    // reorders correctly. Map-only until the per-source rollup.
    Entry(
      "q335_mp4_chunk_offsets",
      (s, d) => {
        import s.implicits._
        tarInputs(s, d)
          .mapPartitions(mp4ChunkedPartition)
          .toDF()
          .groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_files"),
            sum(expr("1L - ok")).as("n_bad_index"),
            sum(col("n_samples")).as("n_samples"),
            sum(col("n_chunks")).as("n_chunks"),
            sum(col("payload_bytes")).as("payload_bytes"),
            pmod(sum(col("payload_digest")), lit(DigP)).as("payload_digest"),
            sum(col("dur_ticks")).as("dur_ticks"))
          .orderBy(col("source"))
      },
      Some(Mp4ChunkOracle)),

    // q336: MPEG-1 LAYER III FRAME-SYNC WALK — self-describing frame
    // headers chained by the 144·bitrate/samplerate + padding formula,
    // bitrate VARYING per frame (real VBR: the walker must walk, not
    // multiply); sync/version/layer/table-legality verified per frame,
    // stream must end exactly on a frame boundary. doc_id % 83 plants
    // the forbidden bitrate index 0xF mid-stream — the walk refuses
    // rather than resyncing past it. doc_id % 5 OPENS the stream with a
    // real ID3v2.4 tag (syncsafe size) the walker must skip before
    // frame-sync — real MP3s almost always carry one; doc_id % 89
    // corrupts a syncsafe size byte (high bit set), refused. Map-only
    // until the rollup.
    Entry(
      "q336_mp3_frame_walk",
      (s, d) => {
        import s.implicits._
        tarInputs(s, d)
          .mapPartitions(mp3IndexPartition)
          .toDF()
          .groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_files"),
            sum(expr("1L - ok")).as("n_bad"),
            sum(col("tagged")).as("n_tagged"),
            sum(col("n_frames")).as("n_frames"),
            sum(col("payload_bytes")).as("payload_bytes"),
            sum(col("kbps_sum")).as("kbps_sum"),
            pmod(sum(col("digest")), lit(DigP)).as("payload_digest"))
          .orderBy(col("source"))
      },
      Some(Mp3Oracle)),

    // q343: WebM/MATROSKA (EBML) WALK — the q330 discipline on the other
    // dominant video container: generic varint id/size framing (zero
    // markers and unknown-size refused), exact parent tiling, DocType +
    // TimecodeScale verification, Tracks → Cluster/SimpleBlock walk with
    // track-number validation and per-block absolute timecodes.
    // doc_id % 71 inflates a SimpleBlock's declared size (structural —
    // refused); doc_id % 59 swaps the last two cluster timecodes (parses
    // fine — only the monotonicity footing catches it). Map-only until
    // the per-source rollup.
    Entry(
      "q343_webm_ebml_walk",
      (s, d) => {
        import s.implicits._
        tarInputs(s, d)
          .mapPartitions(webmPartition)
          .toDF()
          .groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_files"),
            sum(expr("CAST(ok = -1L AS BIGINT)")).as("n_parse_fail"),
            sum(expr("CAST(ok = 0L AS BIGINT)")).as("n_foot_fail"),
            sum(col("n_clusters")).as("n_clusters"),
            sum(col("n_blocks")).as("n_blocks"),
            sum(col("frame_bytes")).as("frame_bytes"),
            pmod(sum(col("digest")), lit(DigP)).as("frame_digest"),
            pmod(sum(pmod(col("tc_sum"), lit(DigP))), lit(DigP))
              .as("tc_digest"))
          .orderBy(col("source"))
      },
      Some(WebmOracle))
  )
}
