package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.sources.{DeltaScan, DeltaWrite}

/** A Delta table whose JSON commits at or below a checkpoint were
  * deleted is a whole table: every writer operation plans from the
  * checkpoint plus the JSON commits after it, so on it `deleteWhere`,
  * `updateWhere`, `merge`, `appendEvolve` and `restore` leave the same
  * rows and live files as on an untruncated copy. `vacuum` alone needs
  * every commit (checkpoints carry no remove tombstones) and refuses. */
class DeltaTruncatedLogSpec extends SparkSpec {
  import spark.implicits._

  private def copyTree(src: Path, dst: Path): Unit =
    Files.walk(src).iterator().asScala.toSeq.foreach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    }

  /** the live data files, relative to the table root */
  private def liveFiles(dir: Path): Set[String] =
    DeltaScan.liveState(spark, dir.toString).files.map(_.path.stripPrefix(s"$dir/")).toSet

  private def rows(dir: Path): Seq[String] =
    DeltaScan.read(spark, dir.toString).collect().map(_.mkString("|")).toSeq.sorted

  test("DML, appendEvolve and restore on a checkpoint-truncated log match the full log; " +
      "vacuum refuses") {
    val base = Files.createTempDirectory("graft_delta_trunc")
    val orig = base.resolve("orig")
    DeltaWrite.create(spark, (0L until 10L).map(i => (i, s"v$i")).toDF("id", "v"), orig.toString)
    (1 to 3).foreach { b =>
      DeltaWrite.append(spark,
        (0L until 10L).map(i => (b * 10L + i, s"v$b")).toDF("id", "v"), orig.toString)
    }
    DeltaWrite.checkpoint(spark, orig.toString)
    val cpV = DeltaScan.latestVersion(spark, orig.toString)
    val full = base.resolve("full")
    val trunc = base.resolve("trunc")
    copyTree(orig, full)
    copyTree(orig, trunc)
    (0L to cpV).foreach(v => Files.delete(trunc.resolve(f"_delta_log/$v%020d.json")))
    val originalFiles = liveFiles(orig)

    def onBoth[T](op: Path => T): Unit = {
      val (a, b) = (op(full), op(trunc))
      assert(a == b, s"results differ: full $a, truncated $b")
      assert(rows(full) == rows(trunc))
      // files kept from before are the same; new files have fresh names
      val (lf, lt) = (liveFiles(full), liveFiles(trunc))
      assert(lf.intersect(originalFiles) == lt.intersect(originalFiles))
      assert(lf.size == lt.size, s"live files: full $lf, truncated $lt")
    }
    onBoth(d => DeltaWrite.deleteWhere(spark, d.toString, col("id") < 3))
    onBoth(d => DeltaWrite.updateWhere(spark, d.toString, col("id") >= 30,
      Seq("v" -> lit("u"))))
    onBoth(d => DeltaWrite.merge(spark, d.toString,
      Seq((11L, "m"), (100L, "m")).toDF("id", "v"), Seq("id")))
    onBoth(d => DeltaWrite.appendEvolve(spark,
      Seq((200L, "e", 7L)).toDF("id", "v", "w"), d.toString))
    assert(DeltaScan.read(spark, trunc.toString).columns.toSeq == Seq("id", "v", "w"))
    onBoth(d => DeltaWrite.restore(spark, d.toString, cpV))
    assert(liveFiles(full) == originalFiles && liveFiles(trunc) == originalFiles)
    assert(rows(trunc) == rows(orig))

    val e = intercept[IllegalArgumentException] {
      DeltaWrite.vacuum(spark, trunc.toString, retainMs = 0L)
    }
    assert(e.getMessage.contains("(log truncated?)"), e.getMessage)
  }
}
