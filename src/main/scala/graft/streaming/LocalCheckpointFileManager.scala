package graft.streaming

import java.io.{BufferedOutputStream, ByteArrayOutputStream, DataOutputStream, OutputStream}
import java.net.URI
import java.nio.file.{Files, Path => JPath, Paths}
import java.nio.file.StandardCopyOption.{ATOMIC_MOVE, REPLACE_EXISTING}
import java.nio.file.StandardOpenOption.{CREATE_NEW, WRITE}
import java.util.UUID
import java.util.zip.CRC32

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus,
  LocalFileSystem, Path, PathFilter}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager

/** The checkpoint file manager of every session (`Tables.sessionConf`),
  * and the writer of `graft.sources.Artifacts`' `_current` manifests.
  *
  * On the local file system it writes with java.nio: each file goes to a
  * private temp file `.<name>.<uuid>.tmp` beside its target and is published
  * by one atomic rename, the output commit of Dean & Ghemawat §3.3 that
  * `MRRunner` uses for its part files. Without libhadoop, Hadoop's local file
  * system starts a `readlink` process for every `FileContext.rename` and a
  * `chmod` process for every create and mkdirs, about 150 processes for one
  * small stateful stream; this manager starts none.
  *
  * Next to each file it writes Hadoop's `.<name>.crc` sidecar (magic `crc\0`,
  * the bytes per checksum, then a big-endian CRC32 per chunk), so a
  * checkpoint holds the same files Spark's default manager writes and each
  * manager reads the other's. `open`, `list` and `exists` go through Hadoop's
  * `LocalFileSystem`, whose reads verify the sidecar (the default manager's
  * `FileContext.open` skips it); `delete` stays with the default manager's
  * `FileContext`. None of them starts a process. Every other scheme, and a
  * local file system without checksums, goes to the default manager
  * unchanged.
  */
class LocalCheckpointFileManager(root: Path, conf: Configuration)
    extends FileContextBasedCheckpointFileManager(root, conf) {
  import LocalCheckpointFileManager._

  private val local = fc.getDefaultFileSystem.isInstanceOf[LocalFs]

  private def file(p: Path): JPath = Paths.get(fc.makeQualified(p).toUri)

  // On a checksum mismatch `LocalFileSystem` would move the file into a
  // `bad_files` dir at the top of its device; here the read just fails.
  private lazy val checked: LocalFileSystem = {
    val fs = new LocalFileSystem {
      override def reportChecksumFailure(p: Path, in: FSDataInputStream, inPos: Long,
          sums: FSDataInputStream, sumsPos: Long): Boolean = false
    }
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  override def open(path: Path): FSDataInputStream =
    if (local) checked.open(path) else super.open(path)

  override def list(path: Path, filter: PathFilter): Array[FileStatus] =
    if (local) checked.listStatus(path, filter) else super.list(path, filter)

  override def exists(path: Path): Boolean =
    if (local) checked.exists(path) else super.exists(path)

  override def createAtomic(
      path: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    if (!local) super.createAtomic(path, overwriteIfPossible)
    else {
      val target = file(path)
      new AtomicStream(
        new ChecksummedFile(target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID}.tmp")),
        target, overwriteIfPossible)
    }

  override def mkdirs(path: Path): Unit =
    if (local) Files.createDirectories(file(path)): Unit else super.mkdirs(path)

  override def createCheckpointDirectory(): Path =
    if (!local) super.createCheckpointDirectory()
    else {
      mkdirs(root)
      fc.makeQualified(root)
    }
}

object LocalCheckpointFileManager {
  private val BytesPerChecksum = 512

  private def sidecar(p: JPath): JPath = p.resolveSibling(s".${p.getFileName}.crc")

  /** Writes `tmp` and keeps the CRC32 of each `BytesPerChecksum` chunk. */
  private final class ChecksummedFile(val tmp: JPath) extends OutputStream {
    private val out = new BufferedOutputStream(Files.newOutputStream(tmp, CREATE_NEW, WRITE))
    private val sumBytes = new ByteArrayOutputStream
    private val sums = new DataOutputStream(sumBytes)
    private val crc = new CRC32
    private var inChunk = 0
    sums.write(Array[Byte]('c', 'r', 'c', 0))
    sums.writeInt(BytesPerChecksum)

    private def endChunk(): Unit = {
      sums.writeInt(crc.getValue.toInt)
      crc.reset()
      inChunk = 0
    }

    override def write(b: Int): Unit = write(Array(b.toByte), 0, 1)

    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      out.write(b, off, len)
      var i = off
      while (i < off + len) {
        val n = math.min(off + len - i, BytesPerChecksum - inChunk)
        crc.update(b, i, n)
        inChunk += n
        i += n
        if (inChunk == BytesPerChecksum) endChunk()
      }
    }

    override def flush(): Unit = out.flush()

    override def close(): Unit = {
      if (inChunk > 0) endChunk()
      out.close()
    }

    /** Writes the closed file's sidecar beside the temp file. */
    def writeSidecar(): JPath = Files.write(sidecar(tmp), sumBytes.toByteArray)

    def discard(): Unit = {
      Files.deleteIfExists(tmp)
      Files.deleteIfExists(sidecar(tmp)): Unit
    }
  }

  /** Publishes `file` onto `target` at `close`, or drops it at `cancel`. */
  private final class AtomicStream(file: ChecksummedFile, target: JPath, overwrite: Boolean)
      extends CancellableFSDataOutputStream(file) {
    private var done = false

    override def close(): Unit = synchronized {
      if (!done) {
        done = true
        try {
          super.close()
          publish()
        } catch {
          case e: Throwable =>
            file.discard()
            throw e
        }
      }
    }

    override def cancel(): Unit = synchronized {
      if (!done) {
        done = true
        try super.close() finally file.discard()
      }
    }

    // The old sidecar goes first, so no reader pairs new bytes with an old
    // checksum; a file without a sidecar reads unverified. A hard link
    // fails, atomically, if the target exists.
    private def publish(): Unit = {
      val sums = file.writeSidecar()
      if (overwrite) {
        Files.deleteIfExists(sidecar(target))
        Files.move(file.tmp, target, ATOMIC_MOVE, REPLACE_EXISTING)
      } else {
        try Files.createLink(target, file.tmp)
        catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            throw new FileAlreadyExistsException(s"$target already exists")
        }
        Files.delete(file.tmp)
      }
      Files.move(sums, sidecar(target), ATOMIC_MOVE, REPLACE_EXISTING)
    }
  }
}
