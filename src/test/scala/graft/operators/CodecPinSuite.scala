package graft.operators

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Containers => C, Multimodal => M}
import graft.operators.Multimodal.TarIn

/** Byte-level pins for every synthesizer → parser pair of the media and
  * container operators, run without a Spark session. Per pair, one SHA-256
  * covers the synthesizer's bytes for ids 1..16, and one covers the
  * parser's results on each payload, every proper prefix of it and every
  * single-byte flip (`^ 0x5a`) of it. The pins were computed before the
  * byte helpers moved into `graft.sources.Bin`, so any drift in a format's
  * bytes or in a parser's accept/reject decision shows up here, not only
  * within the pixel tolerances of the per-format suites.
  */
class CodecPinSuite extends AnyFunSuite {

  private val Ids: Seq[Long] = 1L to 16L

  private def doc(id: Long): TarIn = {
    val text = s"doc $id: " + ("lorem ipsum dolor " * (1 + (id % 4).toInt))
    TarIn(id, s"src${id % 3}", text, text.length.toLong)
  }

  /** One mono 16-bit PCM clip: the synthesized header plus its samples. */
  private def pcm16(id: Long): Array[Byte] = {
    val n = (3 + id % 5).toInt
    val samples = Array.tabulate(n)(i => ((id * 9973L + i * 4099L) % 65536L - 32768L).toInt)
    M.wavHeaderBytes(8000, 1, 16, n) ++
      samples.flatMap(v => Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte))
  }

  private val pairs: Seq[(String, Long => Array[Byte], Array[Byte] => Any)] = Seq(
    ("pngHeader", id => M.pngHeaderBytes((1 + id * 37 % 500).toInt,
      (1 + id * 53 % 300).toInt, Array(0, 2, 3, 4, 6)((id % 5).toInt)), M.parsePngHeader),
    ("pdfHeader", id => M.pdfHeaderBytes((id % 8).toInt, (1 + id % 4).toInt, id % 2 == 0),
      M.parsePdfHeader),
    ("wavHeader", id => M.wavHeaderBytes(Array(8000, 16000, 44100)((id % 3).toInt),
      (1 + id % 2).toInt, Array(8, 16, 24)((id % 3).toInt), (id * 10).toInt), M.parseWavHeader),
    ("wavPcm16", pcm16, M.parseWavPcm16),
    ("gifHeader", id => M.gifBytes((1 + id % 40).toInt, (1 + id * 3 % 30).toInt, (id % 4).toInt),
      M.parseGifHeader),
    ("jpegHeader", id => M.jpegHeaderBytes((1 + id * 29 % 800).toInt,
      (1 + id * 31 % 600).toInt, Array(1, 3, 4)((id % 3).toInt)), M.parseJpegHeader),
    ("pngFull", M.pngFullBytes, M.parsePngPixels),
    ("gifFull", M.gifFullBytes, M.parseGifPixels),
    ("tar", id => M.tarFullBytes(doc(id)), M.parseTarMembers),
    ("zip", id => M.zipFullBytes(doc(id)), M.parseZipEntries),
    ("jpegDc", M.jpegDcBytes, M.parseJpegDcPixels),
    ("jpegFull", M.jpegFullBytes, M.parseJpegFull),
    ("jpegRst", M.jpegRstBytes, M.parseJpegFull),
    ("jpegYcc", M.jpegYccBytes, M.parseJpegYcc),
    ("jpegExif", M.jpegExifBytes, M.parseJpegExif),
    ("pngMeta", M.pngMetaBytes, M.parsePngMeta),
    ("jpegProg", M.jpegProgBytes, M.parseJpegProg),
    ("gzip", id => C.gzipFullBytes(doc(id)), C.parseGzipMembers),
    ("tiff", id => C.tiffFullBytes(doc(id)), C.parseTiffGray),
    ("bmp", id => C.bmpFullBytes(doc(id)), C.parseBmp24),
    ("utf8", id => C.utf8StreamBytes(doc(id)), C.utf8Validate),
    ("ulawWav", id => C.ulawWavBytes(doc(id)), C.parseUlawWav),
    ("mp4", id => C.mp4FullBytes(doc(id)), C.parseMp4Index),
    ("mp4Chunked", id => C.mp4ChunkedBytes(doc(id)), C.parseMp4Chunked),
    ("mp3", id => C.mp3Bytes(doc(id)), C.parseMp3),
    ("webm", id => C.webmBytes(doc(id)), C.parseWebm))

  /** (synthesized bytes, parse results) SHA-256 pins, hex. */
  private val pins: Map[String, (String, String)] = Map(
    "pngHeader" -> ("a88284de456cd7cfda0d4d7c0e2aea200069d9f5cef79d17a8867a2661ce284c",
      "2214a9577d433e4aba3239dad7edff278f752b3be8386ec08326112e6d714bf0"),
    "pdfHeader" -> ("585f496f6c8f22779448ca442bc364f33a89d220e5347fda41a7041d84e859b6",
      "18e14f88597bdd62ea5fa217180321059c0fc8c2b3e039dab5e410f228f4e189"),
    "wavHeader" -> ("2132f9e6d1aca8ad11cbd5973b76b54553ba0f756d9e87488ccef3bd3171f4e0",
      "9fb6c8fb93ca513bfb0f7332c15be249bd9320a6d11baaaa42084b9af64fce9f"),
    "wavPcm16" -> ("b41d1b9a393ae13ef0f010b9668e64867e677c6545aad2af73d4e976b1124524",
      "310825e1ac6f123a2a79195dfc51b2ec40643ed40bd4abc29c04f75fc960b205"),
    "gifHeader" -> ("7ce2cf0815ecf293e20e48d070567b2031c0d827fb7a373fbf3010e6b8130b19",
      "71027f02af9d416a7a5ace983fc9c2dc2a5a661ad41745d589a2523f6eea2a81"),
    "jpegHeader" -> ("cbafdfbe2ad93846693d066761182417337395578cda9b47020ca88ff5f86027",
      "4c8fc39b4fde6a4c8d67dcf9fb0cd768453031cb226966593ea144410d952a2e"),
    "pngFull" -> ("dc2be546648be4594982660e2dae43ba5b0ddd935188ff8f4b2bc3a36a5cba32",
      "973f1dfb13c8c64444ccbfa91284324ffd15dd38339b126ef6a1af76ea6cf0c1"),
    "gifFull" -> ("9ed1e484a898a3e13b0a791e7b9fb5c459d493612974a43980ddfe68bdf9de9a",
      "455fe3d396d5e2902d6fcb24d1fb6936c6830cfff3cc90146a12ebb754bf2df0"),
    "tar" -> ("c407c16f658f2f617937db71ac365e4d32dfa4b9ff3920bc46378697d95d5311",
      "603eaf81d27b616e4d455b0e8aa1c7d98cc27ad945fd2022265d9b1a4073c0b0"),
    "zip" -> ("032660e2e24ee670f9627d25ccc46deff3bc682ab9a5bd0635db048d8415f3b2",
      "f61e5ccca9382c599eff37e42b134f1e671ccf7a84a869a87f59bb576c1ab091"),
    "jpegDc" -> ("00e7ac768e9d2a68198f08855b9330b3c4e3ad80796c72ac255f856bd8c4e0ec",
      "05326bb0100d680c903a1b9fc403fabeb6bb767ca97916c0a7886386f4b5d35a"),
    "jpegFull" -> ("eff6b3cf8367897c460c4923272492fcaa547ae99bf78f6f7827720327349e85",
      "3e932a811c90e8cc130dcf915d3a9bd788fdf736f7e08818417a75f47b20a258"),
    "jpegRst" -> ("803a533b8f182d60e1a33232db1778fdf7d53bdde831d050ca9a29a575b65ffc",
      "f51a0dce0a80c39c9ff4613dfa781e3d2db45ca4a77416d00053cc7e22f2c588"),
    "jpegYcc" -> ("9a0457bcd0c4d44cc1eac83f8fe4732113b55d1ee47b6a23888b02be8fd95c53",
      "c9e12b08dbc4f5783f046eaf8c6da40e556fcf5bb9fc4f327d72e0b19ed0afb7"),
    "jpegExif" -> ("29755fa95303c001a1ddb57d2ac3c3119780c160c9efb4f66076d5a67054bf50",
      "4bcdce63a3f26231ec0dcdacd0ce82be0c1a305ab2135ab300a0c724203382d4"),
    "pngMeta" -> ("11c5a21b7d4877628848eb472393b50e0eb65f2b9509b0d5a8a471877aebdf15",
      "6cdfa47f7dcaadadddfe9f99155c25053ab36500845ce205fa4e4af9648ca216"),
    "jpegProg" -> ("5f076c66cb4b2ccbcf6c4e1f993fc6c9efe4d7ae7ab9268b85009bc2f4d9c6d1",
      "a2139af19b95def611b1c7b2ea0c816f3119090e28017673353a839d50911697"),
    "gzip" -> ("3b1da990fe2b755df6c2e317e2ddb041525dc3ed7ae5dd9d8e5a18012b808e88",
      "2cf74a92761062c072f7cc76390ad2589347c51d67a87aa95c8bcd87604753d2"),
    "tiff" -> ("2b81d85507297f416c1990ee46d16f464d91d60c6d015b717e1c18a96f1c23e5",
      "4add2658c24cc349d58e0fda60309fddcfa30b469c8ee76f7e328822c5213134"),
    "bmp" -> ("5d71a3933f9a819b6cb7b63d05120111818586437eb6fdd6f430c0d058c7f7fb",
      "d73da6a66acf7bcdf4824fc2305a0b2d56d99739422cb114fec15a5164f09072"),
    "utf8" -> ("1608bf6fdfcd3e81abd41b8eab6b5c5ef995b6ecc35d47d22577ebb59b7bba06",
      "7504a7ac687f4dea01c979d113fa60730cdc1af973395b16beb6cfa36af38d3d"),
    "ulawWav" -> ("00d912ec43c433b9f9b490948b73b501154106bea92255d4c0507caf89827f89",
      "07e0b342142509432788b5975384ed52834380c05e386dd08402f9301a57a7e1"),
    "mp4" -> ("710e15c9bfeef206bb04525d3f6b7228f29ddbea8237c4361ac866a64e3a60fd",
      "4cac98176d3ffe0dff507be9511f6278d0ff69e85d6c1ad568387f340a071443"),
    "mp4Chunked" -> ("e3854be087113fc75f8db9d4995647ef74b94b90a416f389a662af53f7328b10",
      "3c85f683f340cea5b921548c57f349f00bfe31484f6b871e4a18221550c74fe0"),
    "mp3" -> ("8b0d15117abc61b675b0ebe4d5449e9d24830196570b2160bbf3b3ce96d45f87",
      "2416798fca00c6a7e39e9ababe1eb6fa0b1e9fcffe062a4aa872b2fee8733a92"),
    "webm" -> ("0fc89e6f8f4cbd46d1303966298c21dc238a514c2333fb2a207960ee1160f044",
      "2da9a3210316b55682ae7a739c4cd71ce207fad7e70abf29e107979f3640f09c"))

  /** Canonical text of a parse result: arrays and collections render by
    * element, so the pin does not depend on which collection type a
    * parser happens to build.
    */
  private def show(x: Any): String = x match {
    case null => "null"
    case None => "None"
    case Some(v) => s"Some(${show(v)})"
    case a: Array[_] => a.map(show).mkString("[", ",", "]")
    case s: String => s
    case it: Iterable[_] => it.map(show).mkString("[", ",", "]")
    case p: Product => p.productIterator.map(show).mkString("(", ",", ")")
    case v => v.toString
  }

  private def hex(md: MessageDigest): String = md.digest().map("%02x".format(_)).mkString

  private def variants(p: Array[Byte]): Iterator[Array[Byte]] =
    Iterator(p) ++ (0 until p.length).iterator.map(n => p.take(n)) ++
      p.indices.iterator.map { j => val c = p.clone; c(j) = (c(j) ^ 0x5a).toByte; c }

  test("every codec pair: synthesized bytes and parse results on prefixes and flips match the pins") {
    val thrown = scala.collection.mutable.ArrayBuffer.empty[String]
    val actual = pairs.map { case (name, synth, parse) =>
      val bytesMd = MessageDigest.getInstance("SHA-256")
      val parseMd = MessageDigest.getInstance("SHA-256")
      for (id <- Ids) {
        val p = synth(id)
        bytesMd.update(java.nio.ByteBuffer.allocate(4).putInt(p.length).array())
        bytesMd.update(p)
        for (v <- variants(p)) {
          val r =
            try show(parse(v))
            catch {
              case e: Throwable =>
                if (thrown.length < 20) thrown += s"$name id=$id len=${v.length}: $e"
                s"THROW ${e.getClass.getName}"
            }
          parseMd.update(r.getBytes(UTF_8)); parseMd.update('\n'.toByte)
        }
      }
      name -> ((hex(bytesMd), hex(parseMd)))
    }
    assert(thrown.isEmpty, s"parsers threw:\n${thrown.mkString("\n")}")
    val drift = actual.filter { case (n, v) => !pins.get(n).contains(v) }
    if (drift.nonEmpty) fail("pins differ; actual values:\n" + drift.map { case (n, (b, r)) =>
      s"""    "$n" -> ("$b",\n      "$r"),""" }.mkString("\n"))
  }
}
