package graft.streaming

import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._
import scala.util.{Random, Try, Using}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}

/** The local manager's contract, on files alone (no Spark session): atomic
  * publish and cancel, no-overwrite, listing, recursive delete, and the
  * Hadoop `.crc` sidecar that both it and Spark's default manager write and
  * verify.
  */
class LocalCheckpointFileManagerSuite extends graft.SparkTestBase {
  private val conf = new Configuration()

  private def local(dir: JPath) = new LocalCheckpointFileManager(new Path(dir.toUri), conf)
  private def default(dir: JPath) = new FileContextBasedCheckpointFileManager(new Path(dir.toUri), conf)
  private def at(dir: JPath, name: String) = new Path(dir.resolve(name).toUri)

  /** 1,300 seeded bytes: two full 512-byte checksum chunks and a partial one. */
  private def bytes(seed: Int): Array[Byte] = {
    val b = new Array[Byte](1300)
    new Random(seed).nextBytes(b)
    b
  }

  private def write(m: CheckpointFileManager, p: Path, b: Array[Byte],
      overwrite: Boolean = false): Unit = {
    val out = m.createAtomic(p, overwrite)
    out.write(b)
    out.close()
  }

  private def read(m: CheckpointFileManager, p: Path): Array[Byte] =
    Using.resource(m.open(p))(_.readAllBytes())

  private def names(dir: JPath): Set[String] =
    Using.resource(Files.list(dir))(_.iterator.asScala.map(_.getFileName.toString).toSet)

  test("createAtomic + close publishes the file and its sidecar, leaving no temp file") {
    val dir = tempDir("cfm_publish")
    val m = local(dir)
    write(m, at(dir, "0"), bytes(1))
    assert(names(dir) == Set("0", ".0.crc"))
    assert(read(m, at(dir, "0")).sameElements(bytes(1)))
    assert(m.exists(at(dir, "0")) && !m.exists(at(dir, "1")))
  }

  test("cancel leaves neither the target nor the temp file") {
    val dir = tempDir("cfm_cancel")
    val out = local(dir).createAtomic(at(dir, "0"), overwriteIfPossible = false)
    out.write(bytes(1))
    assert(names(dir).exists(_.endsWith(".tmp")))
    out.cancel()
    out.close()
    assert(names(dir).isEmpty)
  }

  test("no-overwrite onto an existing file throws and keeps it; overwrite replaces it") {
    val dir = tempDir("cfm_overwrite")
    val m = local(dir)
    write(m, at(dir, "0"), bytes(1))
    intercept[FileAlreadyExistsException](write(m, at(dir, "0"), bytes(2)))
    assert(read(m, at(dir, "0")).sameElements(bytes(1)))
    assert(names(dir) == Set("0", ".0.crc"))
    write(m, at(dir, "0"), bytes(2), overwrite = true)
    assert(read(m, at(dir, "0")).sameElements(bytes(2)))
    assert(names(dir) == Set("0", ".0.crc"))
  }

  test("list with a batch-id filter sees neither temp nor sidecar files") {
    val dir = tempDir("cfm_list")
    val m = local(dir)
    for (i <- 0 to 2) write(m, at(dir, i.toString), bytes(i))
    val open = m.createAtomic(at(dir, "3"), overwriteIfPossible = false)
    open.write(bytes(3))
    val batches = m.list(new Path(dir.toUri), (p: Path) => Try(p.getName.toLong).isSuccess)
    assert(batches.map(_.getPath.getName).toSet == Set("0", "1", "2"))
    open.cancel()
  }

  test("delete removes a directory tree and ignores a missing path") {
    val dir = tempDir("cfm_delete")
    val m = local(dir)
    m.mkdirs(at(dir, "a/b"))
    write(m, at(dir, "a/0"), bytes(1))
    write(m, at(dir, "a/b/1"), bytes(2))
    m.delete(at(dir, "a"))
    assert(names(dir).isEmpty)
    m.delete(at(dir, "a"))
  }

  test("a flipped byte fails the read with ChecksumException") {
    val dir = tempDir("cfm_flip")
    val m = local(dir)
    write(m, at(dir, "0"), bytes(1))
    val file = dir.resolve("0")
    val b = Files.readAllBytes(file)
    b(700) = (b(700) ^ 1).toByte
    Files.write(file, b)
    intercept[ChecksumException](read(m, at(dir, "0")))
  }

  test("the local and the default manager write the same files and read each other's") {
    val (a, b) = (tempDir("cfm_by_local"), tempDir("cfm_by_default"))
    for (i <- 0 to 1) {
      write(local(a), at(a, i.toString), bytes(i))
      write(default(b), at(b, i.toString), bytes(i))
    }
    assert(names(a) == names(b))
    for (i <- 0 to 1) {
      assert(read(default(a), at(a, i.toString)).sameElements(bytes(i)))
      assert(read(local(b), at(b, i.toString)).sameElements(bytes(i)))
      assert(Files.readAllBytes(a.resolve(s".$i.crc")).sameElements(
        Files.readAllBytes(b.resolve(s".$i.crc"))))
    }
  }
}
