package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.{IcebergScan, IcebergWrite}

/** An Iceberg DML plans from ONE read of the table's metadata: a merge,
  * an update and a delete each open the current metadata JSON, its
  * manifest list and each of its manifests at most once, from start to
  * return — the victim scan, the rewrite and the commit all reuse the
  * one plan. */
class IcebergReadOnceSpec extends SparkSpec {
  import spark.implicits._

  CountingFileSystem.register(spark.sparkContext.hadoopConfiguration)

  private def rows(ids: Seq[Long], v: String): DataFrame =
    ids.map(i => (i, v)).toDF("id", "v").coalesce(1)

  test("merge, updateWhere and deleteWhere open each current metadata file at most once") {
    val base = CountingFileSystem.tempDir("graft_ice_readonce")
    val baseDir = base + "/base"
    IcebergWrite.create(spark, rows(0L until 20L, "a"), baseDir)
    IcebergWrite.append(spark, rows(20L until 40L, "b"), baseDir)
    IcebergWrite.append(spark, rows(40L until 60L, "c"), baseDir)
    // live position deletes: a delete manifest beside the data manifests
    IcebergWrite.deleteWhere(spark, baseDir, col("id") === 45L)
    val copyOfBase = CountingFileSystem.copies(base)

    val ops: Seq[(String, String => Unit)] = Seq(
      "merge" -> (d => assert(IcebergWrite.merge(spark, d,
        Seq((30L, "m"), (200L, "m")).toDF("id", "v"), Seq("id")) == ((1L, 1L)))),
      "updateWhere" -> (d => assert(IcebergWrite.updateWhere(spark, d,
        col("id") >= 50L, Seq("v" -> lit("u"))) == 10L)),
      "deleteWhere" -> (d => assert(IcebergWrite.deleteWhere(spark, d, col("id") < 3L) == 3L)))

    ops.foreach { case (name, op) =>
      val d = copyOfBase()
      val meta = Paths.get(d.stripPrefix(s"${CountingFileSystem.Scheme}://"), "metadata")
      val current = Files.list(meta).iterator().asScala.map(_.toString).toSet
      val v = IcebergScan.latestMetadataVersion(spark, d)
      CountingFileSystem.opened.clear()
      op(d)
      val opens = CountingFileSystem.opened.asScala.toList.filter(current)
        .groupBy(identity).map { case (p, ps) => p.stripPrefix(s"$meta/") -> ps.size }
      assert(opens.getOrElse(s"v$v.metadata.json", 0) == 1,
        s"$name must open the current metadata JSON once: $opens")
      assert(opens.keys.count(_.startsWith("snap-")) == 1,
        s"$name must open one manifest list, the current one: $opens")
      assert(opens.keys.count(_.startsWith("manifest-")) >= 3,
        s"$name must read the current manifests: $opens")
      assert(opens.values.forall(_ == 1), s"$name opened a metadata file twice: $opens")
    }
  }
}
