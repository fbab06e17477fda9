package graft.functions

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeArrayData, UnsafeProjection}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Output pins for the text, hash and sorted-merge kernels, run without a
  * Spark session. Per kernel, one SHA-256 covers its outputs on a seeded
  * input set: strings over letters, single, double, leading and trailing
  * spaces, `é` (2 bytes), `€` (3 bytes) and a 4-byte emoji, plus malformed
  * UTF-8, the empty string and inputs shorter than the window. Array
  * kernels are called with `UnsafeArrayData` and with `GenericArrayData`
  * inputs, so both dispatch branches are pinned. The pins were computed
  * before the kernels moved onto the shared primitives in
  * `graft.functions.Spans`, so a drift in any token bound, window, merge or
  * fold shows up here.
  */
class KernelPinSuite extends AnyFunSuite {

  private val pieces = Array("a", "b", "c", "x", "yz", "the", " ", " ", "  ",
    "é", "€", "😀", "Q", "7")

  private val docs: Seq[UTF8String] = {
    val rnd = new scala.util.Random(11)
    val seeded = (1 to 240).map { i =>
      val n = rnd.nextInt(if (i % 5 == 0) 60 else 14)
      val sb = new StringBuilder
      if (i % 7 == 0) sb.append(' ')
      (0 until n).foreach(_ => sb.append(pieces(rnd.nextInt(pieces.length))))
      if (i % 9 == 0) sb.append("  ")
      UTF8String.fromString(sb.toString)
    }
    val fixed = Seq("", " ", "  ", "a", "ab", "a b", " a", "a ", "a  b", "é", "€€",
      "😀 😀", "a b c d e f g h i j", " lead and trail ",
      "x" * 40, "ab " * 30).map(UTF8String.fromString)
    val malformed = Seq(
      Array(0xff, 0x61, 0x20, 0x62),
      Array(0x61, 0x80, 0x80, 0x20, 0x20, 0x62),
      Array(0xc3),
      Array(0xe2, 0x82, 0x20, 0x61, 0xc3, 0xa9),
      Array(0xf0, 0x9f, 0x98, 0x20, 0x20, 0x20, 0xed, 0xa0, 0x80),
      Array.fill(20)(0x80),
    ).map(b => UTF8String.fromBytes(b.map(_.toByte)))
    seeded ++ fixed ++ malformed
  }

  /** Strictly ascending, duplicate-free long sets over a small range, so
    * that pairs intersect.
    */
  private val sets: Seq[Array[Long]] = {
    val rnd = new scala.util.Random(23)
    Array.emptyLongArray +: Array(Long.MinValue, -1L, 0L, Long.MaxValue) +:
      (1 to 60).map(_ => Array.fill(rnd.nextInt(40))(rnd.nextInt(64).toLong - 20L).distinct.sorted)
  }

  private val unsortedSets: Seq[Array[Long]] =
    Seq(Array(3L, 1L), Array(1L, 1L), Array(1L, 2L, 2L), Array(5L, 6L, 7L, 4L))

  private def unsafe(xs: Array[Long]): ArrayData = UnsafeArrayData.fromPrimitiveArray(xs)
  private def generic(xs: Array[Long]): ArrayData = new GenericArrayData(xs.map(x => x: Any))

  private val toUnsafeStrings =
    UnsafeProjection.create(Array[DataType](ArrayType(StringType, containsNull = false)))

  /** The token arrays of `docs` (split on single spaces, empties kept) as
    * both array kinds.
    */
  private val tokenArrays: Seq[ArrayData] = docs.flatMap { d =>
    val g = new GenericArrayData(d.split(UTF8String.fromString(" "), -1).map(t => t: Any))
    val row = toUnsafeStrings(new GenericInternalRow(Array[Any](g)))
    Seq(g, row.getArray(0).copy())
  }

  private def longs(a: ArrayData): String = a.toLongArray().mkString("[", ",", "]")
  private def strs(a: ArrayData): String =
    (0 until a.numElements()).map(i => a.getUTF8String(i).toString).mkString("[", "|", "]")
  private def rows(a: ArrayData, show: InternalRow => String): String =
    (0 until a.numElements()).map(i => show(a.getStruct(i, 2))).mkString("[", ",", "]")

  private def overDocs(f: UTF8String => String): Seq[String] = docs.map(f)

  private def overPairs(f: (ArrayData, ArrayData) => Any): Seq[String] = {
    val kinds: Seq[(Array[Long] => ArrayData, Array[Long] => ArrayData)] =
      Seq((unsafe, unsafe), (generic, generic), (unsafe, generic), (generic, unsafe))
    for {
      (ka, kb) <- kinds
      a <- sets ++ unsortedSets
      b <- sets.take(12) ++ unsortedSets
    } yield
      try f(ka(a), kb(b)).toString
      catch { case e: IllegalArgumentException => s"THROW ${e.getMessage}" }
  }

  private val H = HashKernels
  private val P = PolyKernels
  private val T = TextKernels
  private val B = BpeKernels

  private val kernels: Seq[(String, () => Seq[String])] = Seq(
    "minhashSig1" -> (() => overDocs(d => H.minhashSig(d, 16, 1).mkString(","))),
    "minhashSig3" -> (() => overDocs(d => H.minhashSig(d, 16, 3).mkString(","))),
    "minhashBands" -> (() => overDocs(d => longs(H.minhashBands(d, 16, 3, 2)))),
    "simhash64" -> (() => overDocs(d => H.simhash64(d).toString)),
    "minhashSigChars" -> (() => overDocs(d =>
      (1 to 5).map(n => H.minhashSigChars(d, 8, n).mkString(",")).mkString(";"))),
    "tokenShingleHashes" -> (() => overDocs(d =>
      Seq(1, 3, 8).map(n => longs(H.tokenShingleHashes(d, n))).mkString(";"))),
    "tokenShingles" -> (() => overDocs(d =>
      Seq(1, 3, 8).map(n => strs(H.tokenShingles(d, n))).mkString(";"))),
    "charGramHashes" -> (() => overDocs(d =>
      (1 to 5).map(n => longs(H.charGramHashes(d, n))).mkString(";"))),
    "tokenBigrams" -> (() => overDocs(d => strs(T.tokenBigrams(d)))),
    "tokenBigramStructs" -> (() => overDocs(d => rows(T.tokenBigramStructs(d),
      r => s"(${r.getUTF8String(0)}|${r.getUTF8String(1)})"))),
    "jaccardSorted" -> (() => overPairs(H.jaccardSorted)),
    "jaccardSortedUnchecked" -> (() => overPairs(H.jaccardSortedUnchecked)),
    "intersectCountSorted" -> (() => overPairs(H.intersectCountSorted)),
    "sigAgreeFrac" -> (() => overPairs(H.sigAgreeFrac)),
    "firstAgreeIdx" -> (() => overPairs(H.firstAgreeIdx)),
    "charPoly" -> (() => overDocs(d => P.charPoly(d).toString)),
    "tokenPolys" -> (() => overDocs(d => longs(P.tokenPolys(d)))),
    "clsScore" -> (() => tokenArrays.map(a => P.clsScore(a).toString)),
    "cdcChunks" -> (() => overDocs(d => rows(P.cdcChunks(d),
      r => s"(${r.getLong(0)},${r.getLong(1)})"))),
    "dsTokenCount" -> (() => overDocs(d => B.dsTokenCount(d).toString)),
    "dsPairs" -> (() => overDocs(d => strs(B.dsPairs(d)))),
    "dsFromHex" -> (() => overDocs(d => B.dsFromHex(d).toString)))

  /** SHA-256 of each kernel's outputs, one line per call, hex. */
  private val pins: Map[String, String] = Map(
    "minhashSig1" -> "200307b1c2b833669e5b7f7286d3ec349e87fdb0f33f9fe72c906489a6ae0637",
    "minhashSig3" -> "56009ce9eef28b10fddf578edd3836784d4ec843f84fae13ffe2cb5944bd9560",
    "minhashBands" -> "b0dec06d82e047bacaf9f859862a16812cfab615cdf2c664edaf39a6fa6ee8fc",
    "simhash64" -> "7548193806819b9a5a992c27e1771fb469d02ff5f72f38abae1a136b695b350c",
    "minhashSigChars" -> "78e6965fecfc772125f1a709d5140ca19067e5a721236d30a5c121cbb8e289ab",
    "tokenShingleHashes" -> "c94e6f3c7ab9d2f01f44edaf1cca6f9e7c7e13070e0619999df8551d7bcf95a7",
    "tokenShingles" -> "e81a4f043ca942ca55614ecb936d39771dfedc6a1441bef21d071cbc7baeb559",
    "charGramHashes" -> "c7ee2e9748cfb42d6966d8c15bd51fdcd42d450ce7b7c578793c16667ef1280f",
    "tokenBigrams" -> "a951da3e87f4b0d5640fffe2cbc6c907f56536ce55d4f94a0902cf1322f9e029",
    "tokenBigramStructs" -> "52d80ebdff49dae188b57a1cd0e09f04b15b7d74fd02407fdaa55c930f51563b",
    "jaccardSorted" -> "bb2fb3d70b962f5fd9b357b2396fba9582ac0bb91262761847912aa0711e599f",
    "jaccardSortedUnchecked" -> "4a885a8ce0d570371dce72896f14c5947199f0da3528e600e67e19788ae7df53",
    "intersectCountSorted" -> "0c2fd1666887f88a00c82392aa6ee28ab7d8cf01440be230903b947bb238dd98",
    "sigAgreeFrac" -> "7a9b55fd5d7305c256328f684afddf7dbe20e0d1b70e535642f18e23c76bd54e",
    "firstAgreeIdx" -> "7b1f51117f655b6ffba583ee4892faf3b66c54ad7c3ed7974a06db1da7fe4e1f",
    "charPoly" -> "6fe8599471b7cd875b0614a125b0128bf95eb269c57299017a55c43088184e38",
    "tokenPolys" -> "7b7722d9309127e342f353763cac5815d02a21584d5589c9749fc17a17a5fc7c",
    "clsScore" -> "c6414c22f103fe6ed3e4806fe4483f08f83bd0e34920e51fc5d89ef72b09a76c",
    "cdcChunks" -> "3a161a7a379e60d4671b90a6fd2df9abc89f6cfcb6bd3f2cb0415fdea8a0a395",
    "dsTokenCount" -> "c207915fada5cf7aa541bfbb81211febd2555cb7c6131415c27b9f9938f4336b",
    "dsPairs" -> "1460a428e4d062a9f8684207a82966214c8493ce145a9ba203b117a2eec56d8f",
    "dsFromHex" -> "df34ea1894bd79a3f02c8d2e1c3f5aebe2b99c5ef1c44c6a569dc69da63ede98")

  private def sha(lines: Seq[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes(UTF_8)); md.update('\n'.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }

  test("cdcChunks input is long enough to cut: some doc yields several chunks") {
    assert(docs.exists(d => P.cdcChunks(d).numElements() > 1))
  }

  test("every text, hash and sorted-merge kernel: outputs match the pins") {
    val actual = kernels.map { case (name, run) => name -> sha(run()) }
    val drift = actual.filter { case (n, v) => !pins.get(n).contains(v) }
    if (drift.nonEmpty) fail("pins differ; actual values:\n" + drift.map { case (n, v) =>
      s"""    "$n" -> "$v",""" }.mkString("\n"))
  }
}
