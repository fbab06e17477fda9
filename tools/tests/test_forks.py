"""Self-tests for tools/forks.py (stdlib only, no JVM).

    python3 -m unittest discover -s tools/tests
"""
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(HERE, ".."))
import forks  # noqa: E402

# `jfr print --events jdk.ProcessStart --stack-depth 40` output, cut down:
# two checkpoint renames, a parquet job set-up, a Spark temp-dir delete and
# a process started outside Spark and graft.
PRINT = """jdk.ProcessStart {
  startTime = 19:22:33.445
  pid = 23017
  directory = N/A
  command = "readlink file:/w/tmp/temporary-ff12/.metadata.169b.tmp"
  eventThread = "main" (javaThreadId = 1)
  stackTrace = [
    java.lang.ProcessBuilder.start() line: 1073
    org.apache.hadoop.util.Shell.runCommand() line: 998
    org.apache.hadoop.fs.FileUtil.readLink(File) line: 225
    org.apache.hadoop.fs.FileContext.rename(Path, Path, Options$Rename[]) line: 1044
    org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager.renameTempFile(Path, Path, boolean) line: 391
    org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager$RenameBasedFSDataOutputStream.close() line: 160
  ]
}

jdk.ProcessStart {
  startTime = 19:22:33.502
  pid = 23019
  directory = N/A
  command = "readlink file:/w/tmp/temporary-ff12/offsets/.0.crc"
  eventThread = "main" (javaThreadId = 1)
  stackTrace = [
    java.lang.ProcessBuilder.start() line: 1073
    org.apache.hadoop.fs.FileUtil.readLink(File) line: 225
    org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager.renameTempFile(Path, Path, boolean) line: 391
  ]
}

jdk.ProcessStart {
  startTime = 19:22:32.133
  pid = 22943
  directory = N/A
  command = "chmod 0755 /w/check/0"
  eventThread = "ResultQueryStageExecution-0" (javaThreadId = 130)
  stackTrace = [
    java.lang.ProcessBuilder.start() line: 1073
    org.apache.hadoop.fs.RawLocalFileSystem.setPermission(Path, FsPermission) line: 1179
    org.apache.hadoop.mapreduce.lib.output.FileOutputCommitter.setupJob(JobContext) line: 356
    org.apache.spark.internal.io.HadoopMapReduceCommitProtocol.setupJob(JobContext) line: 180
    graft.sources.Artifacts$.publish(SparkSession, String) line: 90
    ...
  ]
}

jdk.ProcessStart {
  startTime = 19:22:38.499
  pid = 23457
  directory = N/A
  command = "rm -rf /w/tmp/temporary-ff12"
  eventThread = "Thread-3" (javaThreadId = 40)
  stackTrace = [
    java.lang.ProcessBuilder.start() line: 1073
    org.apache.spark.network.util.JavaUtils.deleteRecursivelyUsingUnixNative(File) line: 336
    org.apache.spark.network.util.JavaUtils.deleteRecursively(File, FilenameFilter) line: 269
  ]
}

jdk.ProcessStart {
  startTime = 19:22:38.771
  pid = 23554
  directory = "."
  command = "getconf PAGESIZE"
  eventThread = "main" (javaThreadId = 1)
  stackTrace = [
    java.lang.ProcessBuilder.start() line: 1073
    perfbench.Harness.main(String[])
  ]
}
"""


class ForksTest(unittest.TestCase):
    def test_counts_by_command_without_paths(self):
        by_command, _ = forks.count(PRINT)
        self.assertEqual(by_command, {"readlink": 2, "chmod 0755": 1, "rm -rf": 1,
                                      "getconf PAGESIZE": 1})

    def test_counts_by_first_spark_or_graft_frame(self):
        _, by_frame = forks.count(PRINT)
        cfm = "org.apache.spark.sql.execution.streaming.checkpointing."
        self.assertEqual(by_frame, {
            cfm + "FileContextBasedCheckpointFileManager.renameTempFile": 2,
            "org.apache.spark.internal.io.HadoopMapReduceCommitProtocol.setupJob": 1,
            "org.apache.spark.network.util.JavaUtils.deleteRecursivelyUsingUnixNative": 1,
            "(none)": 1,
        })

    def test_report_leads_with_the_total(self):
        text = forks.report(*forks.count(PRINT))
        self.assertTrue(text.startswith("5 process starts\nby command:\n       2  readlink\n"))

    def test_no_events(self):
        self.assertEqual(forks.report(*forks.count("")),
                         "0 process starts\nby command:\nby first org.apache.spark / graft frame:")


if __name__ == "__main__":
    unittest.main()
