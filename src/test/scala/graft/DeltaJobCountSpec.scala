package graft

import org.apache.spark.ListenerBusAccess

import graft.sources.{DeltaScan, DeltaWrite}

/** A Delta snapshot is read and checkpointed on the driver: building a
  * read of a checkpointed table runs no Spark job, and an
  * auto-checkpoint adds at most one job to the commit that triggers
  * it. */
class DeltaJobCountSpec extends SparkSpec {
  import spark.implicits._

  private def jobsOf(body: => Unit): Int = ListenerBusAccess.jobsOf(spark.sparkContext)(body)

  private def tempTable(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  private def append(dir: String, id: Long): Unit =
    DeltaWrite.append(spark, Seq((id, s"v$id")).toDF("id", "v"), dir)

  test("building a read of a checkpointed table runs no Spark job, at and after " +
      "the checkpoint, classic and v2") {
    Seq(false, true).foreach { v2 =>
      val layout = if (v2) "v2" else "classic"
      val dir = tempTable("graft_jobs_cp")
      DeltaWrite.create(spark, Seq((0L, "v0")).toDF("id", "v"), dir)
      append(dir, 1L)
      if (v2) DeltaWrite.checkpointV2(spark, dir) else DeltaWrite.checkpoint(spark, dir)
      val cpV = DeltaScan.latestVersion(spark, dir)
      assert(jobsOf(DeltaScan.read(spark, dir)) == 0, s"$layout read at the checkpoint")
      append(dir, 2L)
      append(dir, 3L)
      assert(jobsOf(DeltaScan.read(spark, dir)) == 0, s"$layout read two commits after it")
      assert(jobsOf(DeltaScan.read(spark, dir, Some(cpV))) == 0,
        s"$layout read traveling back to it")
      assert(DeltaScan.read(spark, dir).as[(Long, String)].collect().map(_._1).sorted.toSeq ==
        (0L to 3L), layout)
    }
  }

  test("an auto-checkpointing commit runs at most one job more than a plain commit") {
    val dir = tempTable("graft_jobs_autocp")
    DeltaWrite.create(spark, Seq((0L, "v0")).toDF("id", "v"), dir)
    DeltaWrite.setProperties(spark, dir, Map("delta.checkpointInterval" -> "3")) // v1
    val plain = jobsOf(append(dir, 2L))
    val checkpointing = jobsOf(append(dir, 3L))
    val log = new java.io.File(s"$dir/_delta_log")
    assert(new java.io.File(log, f"${3L}%020d.checkpoint.parquet").exists(),
      "commit 3 auto-checkpoints")
    assert(new java.io.File(log, f"${2L}%020d.checkpoint.parquet").exists() == false)
    assert(checkpointing <= plain + 1,
      s"the auto-checkpoint ran ${checkpointing - plain} extra jobs")
  }
}
