package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.{IcebergScan, IcebergWrite}

/** Iceberg commits are atomic under a crash at any metadata I/O step
  * and at any delete of staged data, including the clean-up of a
  * refused merge.
  * The version hint is a lower bound: a commit whose hint rewrite never
  * happened is still the table's current version, for readers and for
  * the next writer alike. */
class IcebergCrashPointSpec extends SparkSpec with CrashPoints {
  import spark.implicits._

  CountingFileSystem.register(spark.sparkContext.hadoopConfiguration)

  private def rows(ids: Seq[Long], v: String): DataFrame =
    ids.map(i => (i, v)).toDF("id", "v").coalesce(1)

  /** the parquet files under a table, relative to it (the appended
    * row of the crash loop aside, a refused operation adds none) */
  private def dataFiles(dir: String): Set[String] = {
    val root = Paths.get(dir.stripPrefix(s"${CountingFileSystem.Scheme}://"))
    Files.walk(root).iterator().asScala.map(root.relativize(_).toString)
      .filter(_.endsWith(".parquet")).filterNot(_.startsWith("_delta_log")).toSet
  }

  private def state(dir: String): Map[Long, String] =
    IcebergScan.read(spark, dir).as[(Long, String)].collect().toMap

  test("a version hint left behind by a crash is a lower bound") {
    val dir = Files.createTempDirectory("graft_ice_hint").toString
    IcebergWrite.create(spark, rows(1L to 3L, "a"), dir)
    IcebergWrite.append(spark, rows(4L to 6L, "b"), dir)
    // a crash between v2's conditional create and its hint rewrite
    val hint = Paths.get(dir, "metadata", "version-hint.text")
    Files.write(hint, "1".getBytes(StandardCharsets.UTF_8))
    assert(IcebergScan.read(spark, dir).count() == 6L, "the read must see version 2")
    IcebergWrite.append(spark, rows(7L to 9L, "c"), dir)
    assert(state(dir).keySet == (1L to 9L).toSet)
    assert(new String(Files.readAllBytes(hint), StandardCharsets.UTF_8).trim == "3")
    // a hint swap (delete, then rename) cut short leaves no hint at all
    Files.delete(hint)
    assert(IcebergScan.read(spark, dir).count() == 9L, "the read must see version 3")
    IcebergWrite.append(spark, rows(10L to 12L, "d"), dir)
    assert(state(dir).keySet == (1L to 12L).toSet)
  }

  test("a crash at any metadata create or rename leaves the before or the after state") {
    val base = CountingFileSystem.tempDir("graft_ice_crash")
    val baseDir = base + "/base"
    IcebergWrite.create(spark, rows(0L until 20L, "a"), baseDir)
    IcebergWrite.append(spark, rows(20L until 40L, "b"), baseDir)
    val before = state(baseDir)
    val copyOfBase = CountingFileSystem.copies(base)

    val ops: Seq[(String, String => Unit, Map[Long, String])] = Seq(
      ("append", d => IcebergWrite.append(spark, rows(100L until 105L, "n"), d),
        before ++ (100L until 105L).map(_ -> "n")),
      ("deleteWhere", d => IcebergWrite.deleteWhere(spark, d, col("id") < 5),
        before -- (0L until 5L)),
      ("updateWhere", d => IcebergWrite.updateWhere(spark, d, col("id") === 25L,
        Seq("v" -> lit("u"))), before + (25L -> "u")),
      ("merge", d => IcebergWrite.merge(spark, d,
        Seq((30L, "m"), (200L, "m")).toDF("id", "v"), Seq("id")),
        before + (30L -> "m") + (200L -> "m")),
      ("compact", d => IcebergWrite.compact(spark, d, smallFileBytes = 1L << 30), before),
      // refused after its rewrite is staged: the staged files go, nothing commits
      ("merge refused for duplicate keys", d => {
        val e = intercept[IllegalArgumentException](IcebergWrite.merge(spark, d,
          Seq((30L, "m"), (30L, "n"), (200L, "m")).toDF("id", "v"), Seq("id")))
        assert(e.getMessage.contains("duplicate key tuples"), e.getMessage)
      }, before))

    ops.foreach { case (name, op, after) =>
      val clean = crashAtEveryMutation(name, copyOfBase, state, before, after, op,
        d => IcebergWrite.append(spark, rows(Seq(999L), "z"), d), minMutations = 4)
      if (name.startsWith("merge refused")) assert(dataFiles(clean) == dataFiles(baseDir),
        s"$name left staged files behind")
    }
  }
}
