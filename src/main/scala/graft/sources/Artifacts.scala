package graft.sources

import graft.streaming.LocalCheckpointFileManager
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** The persisted-artifact protocol: every query that keeps an artifact
  * between runs (an index, a model, a tokenizer, a published stream table)
  * writes and reads it through here.
  *
  * A dataset root holds immutable data directories plus a `_current`
  * manifest naming the live ones. Publishing writes the new data in full,
  * then writes the new manifest to a nonce tmp file and swaps it over
  * `_current` with one single-file rename (`LocalCheckpointFileManager`:
  * java.nio on the local file system, `FileContext.rename(OVERWRITE)`
  * elsewhere), atomic on HDFS and POSIX. A reader that resolves the
  * manifest sees the old complete data or the new complete data, never a
  * mix and never a half-written directory; a writer that dies before the
  * swap leaves the manifest where it was (Dean & Ghemawat §3.3:
  * re-executed work is safe because each output is committed by one atomic
  * rename). Directory renames cannot give this: a two-rename dir swap has a
  * window with no readable dataset at all; the manifest pointer is how
  * transactional table formats publish.
  *
  * Two manifest shapes share the swap:
  *   - a GENERATION root (rewrite-style: index build, compaction, model
  *     publish) names one generation dir `<root>/<gen>`, whose parts live
  *     at `<root>/<gen>/<part>` ([[publish]], [[ensure]], [[currentGeneration]]);
  *   - an EPOCH root (append-style: a streaming sink, an LSM segment list)
  *     lists every committed `<root>/<epoch>` dir ([[commitEpoch]],
  *     [[readEpochs]], [[compactEpochs]]).
  *
  * Every verb assumes one writer per root; which root a query uses, its
  * generation names and whether it builds once or on every run are the
  * caller's.
  */
private[graft] object Artifacts {

  /** The part name of a generation whose directory IS the dataset (one
    * part, read with `s.read.parquet(currentGeneration(...))`). */
  val Whole = ""

  /** Age past which a manifest tmp is provably abandoned: a live publish
    * holds its tmp for the length of a one-line write and a rename. */
  private val TmpTtlMs = 3600L * 1000L

  private def fsOf(s: SparkSession, p: Path): FileSystem =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  private def manifestOf(root: String): Path = new Path(s"$root/_current")

  /** Whether the root has ever published (its manifest exists). */
  private def published(s: SparkSession, root: String): Boolean = {
    val m = manifestOf(root)
    fsOf(s, m).exists(m)
  }

  private def readManifest(s: SparkSession, root: String): String = {
    val m = manifestOf(root)
    val in = fsOf(s, m).open(m)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  /** Write `text` to a nonce tmp and swap it over `_current`. */
  private def swap(s: SparkSession, root: String, text: String): Unit = {
    val manifest = manifestOf(root)
    // GC SWEEP: a publisher hard-killed between create and rename orphans
    // its nonce tmp forever (no later attempt reuses the path), so without
    // a sweep they accumulate unboundedly on a long-lived dataset root.
    // Sweep failures are non-fatal — GC must never block a publish.
    val fs = fsOf(s, manifest)
    val cutoff = System.currentTimeMillis() - TmpTtlMs
    try Option(fs.globStatus(new Path(s"$root/._current.*.tmp")))
      .getOrElse(Array.empty).foreach { st =>
        if (st.getModificationTime < cutoff)
          // NonFatal: swallowing an OOM/interrupt here would also clear the
          // thread's interrupt state — only IO-ish failures are ignorable
          try fs.delete(st.getPath, false)
          catch { case scala.util.control.NonFatal(_) => () }
      }
    catch { case scala.util.control.NonFatal(_) => () }
    // The checkpoint manager writes a private tmp `._current.<uuid>.tmp`
    // (and Hadoop's `.crc` sidecar) and renames it over `_current` at close;
    // a failed attempt removes its own tmp. On the local file system this
    // is java.nio and starts no `chmod` or `readlink` process.
    val out = new LocalCheckpointFileManager(new Path(root), s.sparkContext.hadoopConfiguration)
      .createAtomic(manifest, overwriteIfPossible = true)
    try out.write(text.getBytes("UTF-8"))
    catch {
      case e: Throwable =>
        out.cancel()
        throw e
    }
    out.close()
  }

  // ---- Generation roots ----

  /** Write each part, in order, to `<root>/<gen>/<part>` (the generation
    * dir itself for [[Whole]]) with Overwrite — clobbering any half-written
    * attempt, which no manifest names — then swap the manifest to `gen`.
    * Returns the generation path. With no parts it only swaps the manifest
    * to an already-written generation. A part that fails leaves the
    * manifest on the previous generation.
    *
    * Fails closed, before writing anything, when there are parts and `gen`
    * is the generation `_current` already names: Overwrite would delete and
    * rewrite the live directory in place, under any reader that resolved
    * it. A re-run publishes a fresh name ([[nextGen]]).
    */
  def publish(s: SparkSession, root: String, gen: String)(parts: (String, DataFrame)*): String = {
    if (parts.nonEmpty && published(s, root) && readManifest(s, root).trim == gen)
      throw new IllegalStateException(
        s"generation $gen is live at ${manifestOf(root)}; publish a fresh one (Artifacts.nextGen)")
    parts.foreach { case (part, df) =>
      df.write.mode(SaveMode.Overwrite)
        .parquet(if (part == Whole) s"$root/$gen" else s"$root/$gen/$part")
    }
    swap(s, root, gen)
    s"$root/$gen"
  }

  /** Build-if-absent: [[publish]] `parts` as `gen` only when the root has
    * never published (the build runs at most once per root, so a query is
    * self-contained in any execution order), then return the current
    * generation path. A failed build leaves the root unpublished; the next
    * call builds again.
    */
  def ensure(s: SparkSession, root: String, gen: String)(
      parts: => Seq[(String, DataFrame)]): String = {
    if (!published(s, root)) publish(s, root, gen)(parts: _*)
    currentGeneration(s, root)
  }

  /** Delete a root and everything under it (a query that demonstrates a
    * lifecycle from its first commit starts here). */
  def fresh(s: SparkSession, root: String): Unit = {
    val p = new Path(root)
    fsOf(s, p).delete(p, true): Unit
  }

  /** Resolve the active generation dir of a dataset root via its manifest.
    * Fails fast on a corrupt manifest (empty, or naming a missing directory)
    * instead of silently resolving to the dataset root / a bad path — a
    * reader must never scan a half-published or deleted generation.
    */
  def currentGeneration(s: SparkSession, root: String): String = {
    val gen = readManifest(s, root).trim
    if (gen.isEmpty)
      throw new IllegalStateException(s"empty generation manifest at ${manifestOf(root)}")
    val genPath = new Path(s"$root/$gen")
    if (!fsOf(s, genPath).exists(genPath))
      throw new IllegalStateException(
        s"manifest ${manifestOf(root)} names missing generation dir $genPath")
    s"$root/$gen"
  }

  def readCurrent(s: SparkSession, root: String): DataFrame =
    s.read.parquet(currentGeneration(s, root))

  /** Compact the active [[Whole]] generation into `parts` files as a NEW
    * generation, then repoint the manifest. A crash anywhere before the
    * swap leaves `_current` on the old complete generation (the orphan dir
    * is clobbered by the next attempt's Overwrite); a crash after it
    * leaves the new complete one.
    */
  def compactDataset(s: SparkSession, root: String, gen: String, parts: Int): String =
    publish(s, root, gen)(Whole -> readCurrent(s, root).repartition(parts))

  /** Fresh generation name: `<prefix><n+1>` where n is parsed from the
    * CURRENT generation's basename (0 when current is the build or carries
    * a different prefix). Never reuses an existing name, so a publish
    * always writes a directory no reader can be pointed at yet — a re-run
    * with a CONSTANT name would Overwrite the directory `_current` points
    * at in place, letting a concurrent reader mid-scan see a half-written
    * generation.
    */
  def nextGen(currentGenPath: String, prefix: String): String = {
    val base = currentGenPath.substring(currentGenPath.lastIndexOf('/') + 1)
    val n =
      if (base.startsWith(prefix))
        scala.util.Try(base.stripPrefix(prefix).toInt).getOrElse(0)
      else 0
    s"$prefix${n + 1}"
  }

  /** [[nextGen]] of the root's current generation; `<prefix>1` when the
    * root has never published. */
  def nextGen(s: SparkSession, root: String, prefix: String): String =
    nextGen(if (published(s, root)) currentGeneration(s, root) else "", prefix)

  /** GENERATION GC — the retention half every publish defers to (a publish
    * never deletes the superseded generation): delete every top-level dir
    * under the root that is NOT the manifest-named current generation and
    * whose modification time is older than `ttlMs`. The TTL is the safety
    * contract — it must exceed the longest reader scan, because a reader
    * that resolved the OLD manifest may still be reading the old dir; with
    * that bound, anything older and unlisted is provably unreachable.
    * Returns the number of dirs removed. Failures on individual dirs are
    * non-fatal (the tmp sweep's posture): retention must never block
    * serving, and a half-deleted superseded dir is unlisted garbage the
    * next sweep finishes.
    */
  def gc(s: SparkSession, root: String, ttlMs: Long): Long = {
    val rootPath = new Path(root)
    val fs = fsOf(s, rootPath)
    val cur = currentGeneration(s, root)
    val curName = cur.substring(cur.lastIndexOf('/') + 1)
    val cutoff = System.currentTimeMillis() - ttlMs
    fs.listStatus(rootPath).count { st =>
      st.isDirectory && st.getPath.getName != curName && st.getModificationTime < cutoff && {
        try fs.delete(st.getPath, true)
        catch { case scala.util.control.NonFatal(_) => false }
      }
    }.toLong
  }

  /** What sits directly under a directory: subdirectories and parquet files. */
  final case class Listing(dirs: Long, parquetFiles: Long)

  // Hadoop FileSystem, not java.io.File: at 100 TB an artifact lives on
  // HDFS/S3, where only the fs.Path API resolves.
  def listing(s: SparkSession, path: String): Listing = {
    val p = new Path(path)
    val st = fsOf(s, p).listStatus(p)
    Listing(st.count(_.isDirectory).toLong,
      st.count(_.getPath.getName.endsWith(".parquet")).toLong)
  }

  // ---- Epoch roots (multi-batch exactly-once publish) ----
  // A streaming sink delivers MANY epochs over a table's lifetime; the
  // single-generation manifest fits rewrite-style publishes where the new
  // generation REPLACES the old. Append-style streaming needs the
  // cumulative shape: each epoch lands in its own immutable `<root>/<epoch>`
  // dir, and `_current` holds the newline-separated list of ALL committed
  // epochs — one atomic swap per commit, so a reader resolving the manifest
  // sees a complete prefix of the stream, never a half-appended epoch.

  /** Committed epoch names from the cumulative manifest; empty when the
    * root has never published. Fails fast on a manifest naming a missing
    * directory — a listed epoch must be durably present.
    */
  def committedEpochs(s: SparkSession, root: String): Seq[String] = {
    if (!published(s, root)) return Seq.empty
    val epochs = readManifest(s, root).split("\n").map(_.trim).filter(_.nonEmpty).toSeq
    epochs.foreach { e =>
      val p = new Path(s"$root/$e")
      if (!fsOf(s, p).exists(p))
        throw new IllegalStateException(
          s"epoch manifest ${manifestOf(root)} lists missing dir $p")
    }
    epochs
  }

  /** EXACTLY-ONCE epoch commit — the foreachBatch body of a streaming
    * publish. Idempotent by the committed-check, not by blind overwrite:
    *
    *   1. already committed (a retry AFTER the manifest swap landed but
    *      before the checkpoint recorded it) → NO-OP, and `batch` is never
    *      built. The retry must not rewrite the epoch dir in place — a
    *      reader could be mid-scan on it; the data is already durable and
    *      listed.
    *   2. not committed → Overwrite the epoch dir (clobbering any
    *      half-written attempt from a crash BEFORE the swap — unreadable
    *      garbage, since unlisted dirs are invisible to readers), then
    *      atomically swap in a manifest listing old epochs + this one.
    *
    * A crash between dir-write and swap leaves the manifest on the old
    * complete prefix; the epoch re-lands on retry. Exactly-once downstream
    * with no sink-side dedup state — the manifest IS the commit log.
    */
  def commitEpoch(s: SparkSession, root: String, batch: => DataFrame, epoch: String): Unit = {
    val committed = committedEpochs(s, root)
    if (committed.contains(epoch)) return
    batch.write.mode(SaveMode.Overwrite).parquet(s"$root/$epoch")
    swap(s, root, (committed :+ epoch).sorted.mkString("\n"))
  }

  /** Read the full published stream table: the union of every committed
    * epoch dir, resolved through one manifest read.
    */
  def readEpochs(s: SparkSession, root: String): DataFrame = {
    val epochs = committedEpochs(s, root)
    require(epochs.nonEmpty, s"no committed epochs under $root")
    s.read.parquet(epochs.map(e => s"$root/$e"): _*)
  }

  /** EPOCH COMPACTION — the maintenance verb the cumulative manifest
    * needs: a long-lived streaming table accumulates one dir (and one
    * manifest line, and one per-file read-planning cost) per micro-batch;
    * unchecked, a day of 1-minute epochs is 1440 dirs and the epoch list
    * itself becomes the bottleneck. Compaction rewrites the union of every
    * committed epoch into ONE fresh dir and atomically swaps in a
    * manifest listing only it — [[compactDataset]] applied to the epoch
    * list. A crash before the swap leaves the full epoch list readable
    * (the target dir is unlisted garbage, clobbered by the next attempt's
    * Overwrite); after the swap readers resolve the single compacted
    * epoch. Superseded epoch dirs are left for TTL GC — a reader that
    * resolved the old manifest may still be mid-scan.
    *
    * Run it from the stream's own maintenance lane: a commitEpoch racing
    * this read-modify-write could lose its epoch from the list.
    */
  def compactEpochs(s: SparkSession, root: String, parts: Int): Unit = {
    val epochs = committedEpochs(s, root)
    require(epochs.nonEmpty, s"no committed epochs under $root")
    if (epochs.size == 1) return // already compact — idempotent no-op
    // fresh name: newest epoch + suffix — never produced by commitEpoch,
    // never the current single epoch (size-1 returned above)
    val target = s"${epochs.last}-compacted"
    s.read.parquet(epochs.map(e => s"$root/$e"): _*)
      .repartition(parts)
      .write.mode(SaveMode.Overwrite).parquet(s"$root/$target")
    swap(s, root, target)
  }
}
