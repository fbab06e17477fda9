package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager

/** The session settings every entry point applies (`Tables.sessionConf`). */
class TablesSuite extends SparkTestBase {

  /** Whether Spark registers `key` as a core or SQL `ConfigEntry`. Spark
    * keeps a key it does not know and acts on nothing, so a misspelled entry
    * would silently do nothing. The registry is `private[spark]` in Scala;
    * its JVM methods are public.
    */
  private def registered(key: String): Boolean = {
    val entries = Class.forName("org.apache.spark.internal.config.ConfigEntry$")
    entries.getMethod("findEntry", classOf[String])
      .invoke(entries.getField("MODULE$").get(null), key) != null
  }

  // SQLConf declares this key without registering an entry for it; Spark
  // reads it from the session's Hadoop conf when it makes a checkpoint's
  // file manager, so the test checks that manager instead
  private val checkpointManagerKey = "spark.sql.streaming.checkpointFileManagerClass"

  test("every sessionConf entry is a key Spark registers, set in the running session") {
    // a running session has loaded every core and SQL entry it can read
    val conf = spark.conf
    assert(!registered("spark.sql.artifact.isolation.enable"), "a misspelled key must not pass")
    for ((key, value) <- Tables.sessionConf) {
      assert(registered(key) || key == checkpointManagerKey, s"$key is not a Spark conf")
      assert(conf.get(key) == value, s"the session reports $key = ${conf.get(key)}")
    }
    val hadoopConf = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.newHadoopConf()
    val manager = CheckpointFileManager.create(new Path(tempDir("manager").toString), hadoopConf)
    assert(manager.getClass.getName == Tables.sessionConf(checkpointManagerKey))
  }
}
