package graft.mr

import java.nio.file.{Files, Paths}

/** Job specification — the Spark-native equivalent of the reference's
  * `MapReduceSpec` struct parsed from `key=value[,v…]` INI
  * (/root/reference/src/mapreduce_spec.h:18-83).
  *
  * Field mapping to Spark's execution model:
  *   - `nWorkers`       → parallelism hint (`local[n]` / executor count); on a
  *                        real cluster this is cluster-manager config, not ours
  *   - `mapKilobytes`   → `spark.sql.files.maxPartitionBytes` (input split
  *                        size; Spark's FilePartition planning replaces
  *                        file_shard.h:28-94 and is line-aligned natively)
  *   - `nOutputFiles`   → shuffle partition count R for the reduce stage
  *   - `outputDir`      → an existing local directory; [[MRRunner.run]]
  *                        deletes the `part-*` and `_SUCCESS` files an
  *                        earlier job left there before it starts, and
  *                        leaves every other file in it alone
  *   - `workerAddrs`    → not applicable (executors register themselves);
  *                        validated for spec-compat only
  */
final case class MRSpec(
    nWorkers: Int,
    workerAddrs: Seq[String],
    inputFiles: Seq[String],
    outputDir: String,
    nOutputFiles: Int,
    mapKilobytes: Int,
    userId: String)

object MRSpec {

  /** Parse the reference INI format: one `key=value` per line, values
    * comma-separated for list fields (mapreduce_spec.h:30-83). Unknown keys
    * are ignored, like the reference's if/else chain.
    */
  def fromIni(text: String): MRSpec = {
    val kv = text.linesIterator
      .map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#") && l.contains("="))
      .map { l =>
        val i = l.indexOf('=')
        l.substring(0, i).trim -> l.substring(i + 1).trim
      }
      .toMap
    def get(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"missing key: $k"))
    MRSpec(
      nWorkers = get("n_workers").toInt,
      workerAddrs = get("worker_ipaddr_ports").split(',').toSeq.map(_.trim),
      inputFiles = get("input_files").split(',').toSeq.map(_.trim),
      outputDir = get("output_dir"),
      nOutputFiles = get("n_output_files").toInt,
      mapKilobytes = get("map_kilobytes").toInt,
      userId = get("user_id"))
  }

  def fromIniFile(path: String): MRSpec =
    fromIni(new String(Files.readAllBytes(Paths.get(path))))

  /** Validation mirroring `validate_mr_spec`
    * (/root/reference/src/mapreduce_spec.h:87-157): positive counts, worker
    * count matches address count, well-formed `host:port` with port in
    * [0, 65535], input files exist. Returns the list of violations (empty =
    * valid) instead of the reference's bool+stderr.
    */
  def validate(spec: MRSpec): Seq[String] = {
    val errs = Seq.newBuilder[String]
    if (spec.nWorkers <= 0) errs += s"n_workers must be > 0: ${spec.nWorkers}"
    if (spec.nWorkers != spec.workerAddrs.size)
      errs += s"n_workers (${spec.nWorkers}) != #worker_ipaddr_ports (${spec.workerAddrs.size})"
    if (spec.nOutputFiles <= 0)
      errs += s"n_output_files must be > 0: ${spec.nOutputFiles}"
    if (spec.mapKilobytes <= 0)
      errs += s"map_kilobytes must be > 0: ${spec.mapKilobytes}"
    if (spec.userId.isEmpty) errs += "user_id must be non-empty"
    spec.workerAddrs.foreach { addr =>
      addr.split(':') match {
        case Array(host, port) =>
          if (host.isEmpty) errs += s"bad worker address (empty host): $addr"
          port.toIntOption match {
            case Some(p) if p >= 0 && p <= 65535 => ()
            case _ => errs += s"bad worker port: $addr"
          }
        case _ => errs += s"bad worker address (want host:port): $addr"
      }
    }
    spec.inputFiles.foreach { f =>
      if (!Files.exists(Paths.get(f))) errs += s"input file missing: $f"
    }
    // Output-dir writability probe, mirroring the reference's create+delete
    // of a temp file in the output dir
    // (/root/reference/src/mapreduce_spec.h:147-155): the dir must already
    // exist and be writable — validation never mutates the filesystem
    // beyond the transient probe file, which is always removed.
    try {
      val dir = Paths.get(spec.outputDir)
      if (!Files.isDirectory(dir))
        errs += s"output dir missing or not a directory: ${spec.outputDir}"
      else {
        val probe = Files.createTempFile(dir, ".graft_probe_", "")
        Files.delete(probe)
      }
    } catch {
      case e: Exception =>
        errs += s"output dir not writable: ${spec.outputDir} (${e.getClass.getSimpleName}: ${e.getMessage})"
    }
    errs.result()
  }
}
