package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.sources.DeltaWrite

/** A Delta DML plans from ONE read of the table's log: each commit
  * JSON is opened at most once between the operation's start and its
  * first commit attempt (the `beforeDmlCommit` seam). Commit attempts
  * themselves re-read fresh state and are not counted. */
class LogReadOnceSpec extends SparkSpec {
  import spark.implicits._

  CountingFileSystem.register(spark.sparkContext.hadoopConfiguration)

  /** commit-JSON path → opens while `dml` planned */
  private def planningOpens(dml: => Long): (Long, Map[String, Int]) = {
    @volatile var seen: Option[List[String]] = None
    CountingFileSystem.opened.clear()
    DeltaWrite.beforeDmlCommit =
      () => seen = Some(CountingFileSystem.opened.asScala.toList)
    val n = try dml finally DeltaWrite.beforeDmlCommit = () => ()
    val opens = seen.getOrElse(fail("the DML never reached its commit"))
    (n, opens.filter(_.matches(".*/_delta_log/\\d{20}\\.json"))
      .groupBy(identity).map { case (p, ps) => p -> ps.size })
  }

  test("deleteWhere and updateWhere open each commit JSON at most once while planning") {
    val dir = CountingFileSystem.tempDir("graft_logonce") + "/t"
    DeltaWrite.create(spark, (0L until 10L).map(i => (i, s"v$i")).toDF("id", "v"), dir)
    (1 to 5).foreach { b =>
      DeltaWrite.append(spark,
        (0L until 10L).map(i => (b * 10L + i, s"v$b")).toDF("id", "v"), dir)
    }

    val (deleted, delOpens) = planningOpens(
      DeltaWrite.deleteWhere(spark, dir, col("id") < 3))
    assert(deleted == 3L)
    assert(delOpens.size == 6, s"every commit of the 6-commit log is read: $delOpens")
    assert(delOpens.values.forall(_ == 1),
      s"deleteWhere opened a commit JSON more than once: $delOpens")

    val (updated, updOpens) = planningOpens(
      DeltaWrite.updateWhere(spark, dir, col("id") >= 50, Seq("v" -> lit("u"))))
    assert(updated == 10L)
    assert(updOpens.size == 7, s"every commit of the 7-commit log is read: $updOpens")
    assert(updOpens.values.forall(_ == 1),
      s"updateWhere opened a commit JSON more than once: $updOpens")

    val rows = graft.sources.DeltaScan.read(spark, dir).as[(Long, String)].collect()
    assert(rows.length == 57 && rows.count(_._2 == "u") == 10)
  }
}
