package graft.streaming

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** The bounded-stream policy every streaming query runs under: a parquet
  * file stream is drained with `Trigger.AvailableNow` into a memory table or
  * a `foreachBatch` sink, and the call returns once the stream has stopped.
  * Bounded input makes the streamed result exact, so the batch oracle
  * applies to it verbatim; in production the same query runs unbounded.
  */
object BoundedStreams {

  /** The fixture table `name` of `dir` as a file stream. The fixture is a
    * single file and FileStreamSource accepts only a directory or a glob,
    * so it is addressed as the glob `<name>*` (in production this is the
    * arrival directory the stream tails).
    */
  def table(s: SparkSession, dir: String, name: String): DataFrame =
    s.readStream.schema(s.read.parquet(s"$dir/$name.parquet").schema)
      .parquet(s"$dir/$name*")

  /** Each chunk lands as one parquet file, with increasing mod times, in a
    * fresh directory under the JVM's scratch root (deleted at exit).
    * FileStreamSource orders arrivals by mod time, so with
    * `maxFilesPerTrigger=1` the returned stream delivers one micro-batch
    * per chunk, in order.
    */
  def arrivals(s: SparkSession, name: String, chunks: Seq[DataFrame]): DataFrame = {
    val dir = Files.createTempDirectory(scratchRoot(), s"${name}_arrivals").toString
    chunks.zipWithIndex.foreach { case (df, i) =>
      val stage = s"$dir/stage_$i"
      df.coalesce(1).write.parquet(stage)
      val part = new File(stage).listFiles().find(_.getName.endsWith(".parquet")).get
      val target = new File(f"$dir/chunk_$i%04d.parquet")
      Files.move(part.toPath, target.toPath)
      target.setLastModified(1000000L * (i + 1))
    }
    s.readStream.schema(chunks.head.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/chunk_*.parquet")
  }

  /** Runs `ds` to completion into the memory table `name` and returns it. */
  def toMemory(ds: Dataset[_], name: String, mode: OutputMode): DataFrame = {
    run(ds.sparkSession, name,
      ds.writeStream.format("memory").queryName(name).outputMode(mode))
    ds.sparkSession.table(name)
  }

  /** Runs `df` to completion, handing each micro-batch and its id to `f`. */
  def forEachBatch(df: DataFrame, name: String)(f: (DataFrame, Long) => Unit): Unit =
    run(df.sparkSession, name,
      df.writeStream.queryName(name).outputMode(OutputMode.Append).foreachBatch(f))

  // A query of the same name left running (an earlier run that threw) would
  // make `start` fail; stop it first. Each run checkpoints into a fresh dir
  // under the scratch root, deleted in-process once the stream has drained
  // (Spark's own temporary checkpoint is deleted by an `rm -rf` process); a
  // failed run's dir goes with the scratch root at exit.
  private def run(s: SparkSession, name: String, w: DataStreamWriter[_]): Unit = {
    s.streams.active.filter(_.name == name).foreach(_.stop())
    val checkpoint = Files.createTempDirectory(scratchRoot(), s"${name}_checkpoint")
    w.option("checkpointLocation", checkpoint.toString)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    graft.Tables.deleteTree(checkpoint.toFile)
  }

  private def scratchRoot() =
    Files.createDirectories(Paths.get(graft.sources.Sources.scratchRoot))
}
