package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.{DeltaScan, DeltaWrite}

/** Delta commits are atomic under a crash at any `_delta_log` create or
  * rename — the commit JSON's conditional publish, and the checkpoint
  * parquet and `_last_checkpoint` writes of an auto-checkpoint, which
  * run after the commit is durable — and at any delete of a log file
  * or of staged data, including the clean-up of a refused merge. */
class DeltaCrashPointSpec extends SparkSpec with CrashPoints {
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
    DeltaScan.read(spark, dir).as[(Long, String)].collect().toMap

  private def appendRow(dir: String): Unit =
    DeltaWrite.append(spark, rows(Seq(999L), "z"), dir)

  /** a two-file base table under a fresh counting dir */
  private def twoFileBase(prefix: String): String = {
    val base = CountingFileSystem.tempDir(prefix)
    DeltaWrite.create(spark, rows(0L until 20L, "a"), base + "/base")
    DeltaWrite.append(spark, rows(20L until 40L, "b"), base + "/base")
    base
  }

  test("a crash at any _delta_log create or rename leaves the before or the after state") {
    val base = twoFileBase("graft_delta_crash")
    val before = state(base + "/base")
    val copyOfBase = CountingFileSystem.copies(base)
    val ops: Seq[(String, String => Unit, Map[Long, String])] = Seq(
      ("append", d => DeltaWrite.append(spark, rows(100L until 105L, "n"), d),
        before ++ (100L until 105L).map(_ -> "n")),
      ("deleteWhere", d => DeltaWrite.deleteWhere(spark, d, col("id") < 5),
        before -- (0L until 5L)),
      ("updateWhere", d => DeltaWrite.updateWhere(spark, d, col("id") === 25L,
        Seq("v" -> lit("u"))), before + (25L -> "u")),
      ("merge", d => DeltaWrite.merge(spark, d,
        Seq((30L, "m"), (200L, "m")).toDF("id", "v"), Seq("id")),
        before + (30L -> "m") + (200L -> "m")),
      ("compact", d => DeltaWrite.compact(spark, d, smallFileBytes = 1L << 30), before),
      // refused after its rewrite is staged: the staged files go, nothing commits
      ("merge refused for duplicate keys", d => {
        val e = intercept[IllegalArgumentException](DeltaWrite.merge(spark, d,
          Seq((30L, "m"), (30L, "n"), (200L, "m")).toDF("id", "v"), Seq("id")))
        assert(e.getMessage.contains("duplicate key tuples"), e.getMessage)
      }, before))
    ops.foreach { case (name, op, after) =>
      val clean = crashAtEveryMutation(name, copyOfBase, state, before, after, op,
        appendRow, minMutations = 2)
      if (name.startsWith("merge refused")) assert(dataFiles(clean) == dataFiles(base + "/base"),
        s"$name left staged files behind")
    }
  }

  test("a crash inside an auto-checkpoint leaves the commit durable and the table readable") {
    // the base already carries a checkpoint, so the commit's checkpoint
    // at version 3 replaces `_last_checkpoint`
    val base = twoFileBase("graft_delta_crash_cp")
    DeltaWrite.setProperties(spark, base + "/base", Map("delta.checkpointInterval" -> "3"))
    DeltaWrite.checkpoint(spark, base + "/base")
    val before = state(base + "/base")
    val after = before ++ (100L until 105L).map(_ -> "n")
    val clean = crashAtEveryMutation("append at a checkpoint version",
      CountingFileSystem.copies(base), state, before, after,
      d => DeltaWrite.append(spark, rows(100L until 105L, "n"), d), appendRow,
      minMutations = 5)
    val lastCp = Paths.get(clean.stripPrefix(s"${CountingFileSystem.Scheme}://"),
      "_delta_log", "_last_checkpoint")
    assert(new String(Files.readAllBytes(lastCp), "UTF-8").contains("\"version\":3"),
      "the fault-free append checkpoints version 3")
  }
}
