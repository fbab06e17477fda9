package graft

import scala.jdk.CollectionConverters._

import graft.sources.Artifacts
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Failures between an artifact write and its manifest swap, made for real:
  * the failing part is a DataFrame that throws when its write job runs. */
class ArtifactsSuite extends SparkTestBase {

  private def failing(df: DataFrame): DataFrame =
    df.filter(expr("raise_error('injected part failure')").isNull)

  private def assertInjected(e: Throwable): Unit =
    assert(Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("injected part failure")),
      s"unexpected failure: $e")

  // a manifest tmp `._current.<uuid>.tmp` and its `.crc` sidecar
  private def tmps(root: String): Seq[String] =
    Option(new java.io.File(root).list()).toSeq.flatten
      .filter(n => n.contains("_current.") && (n.endsWith(".tmp") || n.endsWith(".tmp.crc")))

  test("a publish whose second part fails keeps the previous generation live") {
    assertNoTmpdirLeak {
      val root = tempDir("graft_art_pub").toString + "/idx"
      val nation = Tables.nation(spark, sf).select(col("n_nationkey"), col("n_name"))
      val events = Tables.events(spark, sf).select(col("event_id"), col("value"))
      Artifacts.publish(spark, root, "gen-1")(Artifacts.Whole -> nation)
      val before = Artifacts.readCurrent(spark, root).collect().toSet
      assert(before == nation.collect().toSet)

      assertInjected(intercept[Exception] {
        Artifacts.publish(spark, root, "gen-2")("nation" -> nation, "events" -> failing(events))
      })
      assert(new java.io.File(s"$root/gen-2/nation").list().exists(_.endsWith(".parquet")),
        "the first part must have been written before the second failed")
      assert(Artifacts.currentGeneration(spark, root).endsWith("/gen-1"))
      assert(Artifacts.readCurrent(spark, root).collect().toSet == before)
      assert(tmps(root).isEmpty, s"manifest tmps left behind: ${tmps(root)}")

      val gen2 = Artifacts.publish(spark, root, "gen-2")("nation" -> nation, "events" -> events)
      assert(Artifacts.currentGeneration(spark, root) == gen2)
      assert(spark.read.parquet(s"$gen2/nation").collect().toSet == before)
      assert(spark.read.parquet(s"$gen2/events").count() == events.count())
      assert(tmps(root).isEmpty, s"manifest tmps left behind: ${tmps(root)}")
    }
  }

  test("an ensure whose build fails stays unpublished; the next one builds once") {
    assertNoTmpdirLeak {
      val root = tempDir("graft_art_ensure").toString + "/idx"
      val nation = Tables.nation(spark, sf).select(col("n_nationkey"), col("n_name"))
      var builds = 0
      def build(ok: Boolean): Seq[(String, DataFrame)] = {
        builds += 1
        Seq(Artifacts.Whole -> (if (ok) nation else failing(nation)))
      }
      assertInjected(intercept[Exception] {
        Artifacts.ensure(spark, root, "gen-build")(build(ok = false))
      })
      assert(!new java.io.File(s"$root/_current").exists(), "a failed build must not publish")
      assert(tmps(root).isEmpty, s"manifest tmps left behind: ${tmps(root)}")

      val gen = Artifacts.ensure(spark, root, "gen-build")(build(ok = true))
      assert(builds == 2)
      assert(gen.endsWith("/gen-build"))
      assert(spark.read.parquet(gen).collect().toSet == nation.collect().toSet)

      assert(Artifacts.ensure(spark, root, "gen-build")(build(ok = true)) == gen)
      assert(builds == 2, "a published root must not build again")
    }
  }

  test("a commitEpoch whose batch fails leaves the committed epochs and rows unchanged") {
    assertNoTmpdirLeak {
      val root = tempDir("graft_art_epoch").toString + "/tbl"
      val ev = Tables.events(spark, sf).select(col("event_id"), col("value"))
      val evens = ev.filter(col("event_id") % 2 === 0)
      val odds = ev.filter(col("event_id") % 2 === 1)
      Artifacts.commitEpoch(spark, root, evens, "epoch-000000000")
      val epochs = Artifacts.committedEpochs(spark, root)
      val rows = Artifacts.readEpochs(spark, root).collect().toSet
      assert(epochs == Seq("epoch-000000000") && rows == evens.collect().toSet)

      assertInjected(intercept[Exception] {
        Artifacts.commitEpoch(spark, root, failing(odds), "epoch-000000001")
      })
      assert(Artifacts.committedEpochs(spark, root) == epochs)
      assert(Artifacts.readEpochs(spark, root).collect().toSet == rows)
      assert(tmps(root).isEmpty, s"manifest tmps left behind: ${tmps(root)}")

      Artifacts.commitEpoch(spark, root, odds, "epoch-000000001")
      assert(Artifacts.committedEpochs(spark, root) == epochs :+ "epoch-000000001")
      assert(Artifacts.readEpochs(spark, root).count() == ev.count())
    }
  }

  test("a q108 re-run publishes a fresh generation; the old one keeps its files and rows") {
    val q108 = graft.queries.Registry.byName("q108_ann_index_build")
    val root = graft.operators.Similarity.pqIndexRoot(sf)
    def files(gen: String): Seq[java.nio.file.Path] = {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(gen))
      try walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_)).toList
      finally walk.close()
    }
    def rows(gen: String): Seq[String] =
      Seq("codebook", "codes")
        .flatMap(p => spark.read.parquet(s"$gen/$p").collect().map(_.toString)).sorted

    q108.q(spark, sf).collect()
    val first = Artifacts.currentGeneration(spark, root)
    val firstFiles = files(first)
    val firstRows = rows(first)
    assert(firstFiles.exists(_.toString.endsWith(".parquet")))

    q108.q(spark, sf).collect()
    val gone = firstFiles.filterNot(java.nio.file.Files.exists(_))
    assert(gone.isEmpty,
      s"the re-run deleted files of the generation it superseded: ${gone.take(4)}")
    assert(rows(first) == firstRows)
    val second = Artifacts.currentGeneration(spark, root)
    assert(second != first, s"the re-run republished the live generation $first")
    val live = second.substring(second.lastIndexOf('/') + 1)
    assert(intercept[IllegalStateException] {
      Artifacts.publish(spark, root, live)("codes" -> spark.read.parquet(s"$first/codes"))
    }.getMessage.contains("is live"))
    assert(Artifacts.currentGeneration(spark, root) == second)
  }

  test("a manifest swap starts no process") {
    // Hadoop's local file system starts a chmod process for each create and
    // a readlink process for each FileContext rename when libhadoop is absent
    val root = tempDir("graft_art_swap").toString + "/idx"
    val nation = Tables.nation(spark, sf).select(col("n_nationkey"), col("n_name"))
    Artifacts.publish(spark, root, "gen-1")(Artifacts.Whole -> nation)
    Artifacts.publish(spark, root, "gen-2")(Artifacts.Whole -> nation)
    assertNoProcess(Artifacts.publish(spark, root, "gen-1")(): Unit)
    assert(Artifacts.currentGeneration(spark, root).endsWith("/gen-1"))
    assert(Artifacts.readCurrent(spark, root).collect().toSet == nation.collect().toSet)
    assert(tmps(root).isEmpty, s"manifest tmps left behind: ${tmps(root)}")
  }
}
