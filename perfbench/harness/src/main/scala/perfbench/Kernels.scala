package perfbench

import graft.Tables
import graft.functions.{BpeKernels, HashKernels}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.unsafe.types.UTF8String

/** The `graft.functions` kernels called directly, single-threaded, over the
  * fixture's documents: nanoseconds per document, median of five sweeps after
  * one warm sweep. Parameters are the ones the registered queries use.
  */
object Kernels {
  private var sink = 0L // keeps every result live

  def run(spark: SparkSession, data: String): Map[String, Double] = {
    val docs = Tables.documents(spark, data).select("text").collect()
      .map(r => UTF8String.fromString(Option(r.getString(0)).getOrElse("")))
    val sorted = docs.map { d =>
      val hs = HashKernels.tokenShingleHashes(d, 3).toLongArray().sorted
      UnsafeArrayData.fromPrimitiveArray(hs)
    }
    def perDoc(f: Int => Long): Double = {
      def sweep(): Double = {
        val t0 = System.nanoTime()
        var i = 0
        var acc = 0L
        while (i < docs.length) { acc += f(i); i += 1 }
        sink += acc
        (System.nanoTime() - t0).toDouble / docs.length
      }
      sweep()
      Harness.median(Seq.fill(5)(sweep()))
    }
    Map(
      "minhashSig" -> perDoc(i => HashKernels.minhashSig(docs(i), 32, 3)(0)),
      "tokenShingleHashes" -> perDoc(i => HashKernels.tokenShingleHashes(docs(i), 3).numElements()),
      "tokenShingles" -> perDoc(i => HashKernels.tokenShingles(docs(i), 3).numElements()),
      "intersectCountSorted" -> perDoc(i =>
        HashKernels.intersectCountSorted(sorted(i), sorted((i + 1) % sorted.length))),
      "md5Lane" -> perDoc(i => HashKernels.md5Lane(docs(i), 1, 15)),
      "dsPairs" -> perDoc(i => BpeKernels.dsPairs(docs(i)).numElements())
    ).map { case (k, v) => s"functions.$k.ns_per_doc" -> v }
  }
}
