package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.avro.file.DataFileReader
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.{IcebergScan, IcebergWrite}

/** The Iceberg snapshot producer: a rewrite carries its kept files as
  * their manifests record them (no footer re-read), and every manifest
  * list row a commit adds states exactly what its manifest holds. */
class IcebergSnapshotSpec extends SparkSpec {
  import spark.implicits._

  CountingFileSystem.register(spark.sparkContext.hadoopConfiguration)

  private def rows(ids: Seq[Long], v: String): DataFrame =
    ids.map(i => (i, v)).toDF("id", "v").coalesce(1)

  private def state(df: DataFrame): Map[Long, String] =
    df.as[(Long, String)].collect().toMap

  private def localPath(p: String): String = new Path(p).toUri.getPath

  private def currentMeta(dir: String): com.fasterxml.jackson.databind.JsonNode = {
    val v = IcebergScan.latestMetadataVersion(spark, dir)
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      Files.readAllBytes(Paths.get(dir, "metadata", s"v$v.metadata.json")))
  }

  private def avro(path: String): Seq[GenericRecord] = {
    val r = DataFileReader.openReader(new java.io.File(path),
      new GenericDatumReader[GenericRecord]())
    try r.iterator().asScala.toVector finally r.close()
  }

  test("a copy-on-write update opens no data file but its own outputs once it commits") {
    val dir = CountingFileSystem.tempDir("graft_ice_kept") + "/t"
    IcebergWrite.create(spark, rows(0L until 10L, "a"), dir)
    (1 to 5).foreach(b => IcebergWrite.append(spark, rows(b * 100L until b * 100L + 10L, "a"), dir))
    val live = IcebergScan.currentDataFiles(spark, dir)._2.map(localPath).toSet
    assert(live.size == 6)

    @volatile var mark = -1
    CountingFileSystem.opened.clear()
    IcebergWrite.beforeCommit = () => mark = CountingFileSystem.opened.size
    val n = try IcebergWrite.updateWhere(spark, dir, col("id") === 305L, Seq("v" -> lit("u")))
      finally IcebergWrite.beforeCommit = () => ()
    assert(n == 1L)
    assert(mark >= 0, "the update never reached its commit")
    val outputs = IcebergScan.currentDataFiles(spark, dir)._2.map(localPath).toSet -- live
    assert(outputs.size == 1)
    val committing = CountingFileSystem.opened.asScala.toList.drop(mark)
      .filter(_.endsWith(".parquet")).toSet
    assert((committing -- outputs).isEmpty,
      s"the commit re-read kept data files: ${(committing -- outputs).toSeq.sorted}")
    assert(state(IcebergScan.read(spark, dir))(305L) == "u")
  }

  /** every manifest-list row the newest snapshot's commit added agrees
    * with a recount of its manifest's entries */
  private def assertListRowsRecount(dir: String, what: String): Unit = {
    val meta = currentMeta(dir)
    val version = meta.get("snapshots").elements().asScala
      .map(_.get("snapshot-id").asLong()).max
    val snap = meta.get("snapshots").elements().asScala
      .find(_.get("snapshot-id").asLong() == version).get
    val listRows = avro(Paths.get(dir, snap.get("manifest-list").asText()).toString)
    val added = listRows.filter(_.get("added_snapshot_id").toString.toLong == version)
    assert(added.nonEmpty, s"$what added no manifest")
    added.foreach { r =>
      val path = Paths.get(dir, r.get("manifest_path").toString)
      val seq = r.get("sequence_number").toString.toLong
      val entries = avro(path.toString)
      def rowsOf(es: Seq[GenericRecord]): Long = es.map(e =>
        e.get("data_file").asInstanceOf[GenericRecord].get("record_count").toString.toLong).sum
      val (addedEs, keptEs) = entries.partition(_.get("status").toString.toInt == 1)
      assert(keptEs.forall(_.get("status").toString.toInt == 0), s"$what: DELETED entry")
      val minSeq = (keptEs.map(_.get("sequence_number").toString.toLong) :+ seq).min
      val recount = Seq(Files.size(path), addedEs.size, keptEs.size, rowsOf(addedEs),
        rowsOf(keptEs), minSeq)
      val listed = Seq("manifest_length", "added_data_files_count", "existing_data_files_count",
        "added_rows_count", "existing_rows_count", "min_sequence_number")
        .map(f => r.get(f).toString.toLong)
      assert(listed == recount, s"$what: list row of $path says $listed, its entries $recount")
    }
  }

  test("every list row a commit adds matches a recount of its manifest, on every path") {
    val dir = Files.createTempDirectory("graft_ice_producer").toString + "/t"
    var model = Map.empty[Long, String]
    def check(what: String): Unit = {
      assertListRowsRecount(dir, what)
      assert(state(IcebergScan.read(spark, dir)) == model, s"read-back after $what")
    }

    IcebergWrite.create(spark, rows(1L to 20L, "a"), dir)
    model ++= (1L to 20L).map(_ -> "a"); check("create")
    IcebergWrite.append(spark, rows(21L to 30L, "b"), dir)
    model ++= (21L to 30L).map(_ -> "b"); check("append")
    IcebergWrite.appendToBranch(spark, rows(31L to 35L, "c"), dir, "audit")
    check("branch append")
    assert(state(IcebergScan.readRef(spark, dir, "audit")) ==
      model ++ (31L to 35L).map(_ -> "c"))
    IcebergWrite.updateWhere(spark, dir, col("id") <= 5L, Seq("v" -> lit("u")))
    model ++= (1L to 5L).map(_ -> "u"); check("copy-on-write update")

    IcebergWrite.setProperties(spark, dir, Map(
      "write.update.mode" -> "merge-on-read", "write.merge.mode" -> "merge-on-read"))
    IcebergWrite.updateWhere(spark, dir, col("id").between(21L, 23L), Seq("v" -> lit("m")))
    model ++= (21L to 23L).map(_ -> "m"); check("merge-on-read update (v2)")
    IcebergWrite.merge(spark, dir, Seq((1L, "x"), (100L, "x")).toDF("id", "v"), Seq("id"))
    model ++= Seq(1L -> "x", 100L -> "x"); check("merge-on-read merge")
    IcebergWrite.deleteWhere(spark, dir, col("id") === 2L)
    model -= 2L; check("position delete (v2)")
    IcebergWrite.deleteEqual(spark, dir, Seq(3L, 4L).toDF("id"))
    model --= Seq(3L, 4L); check("equality delete")
    IcebergWrite.upgradeFormatVersion(spark, dir)
    check("upgradeFormatVersion")
    IcebergWrite.deleteWhere(spark, dir, col("id") === 6L)
    model -= 6L; check("deletion-vector delete (v3)")
    IcebergWrite.compact(spark, dir, smallFileBytes = 1L << 30)
    check("compact")
  }
}
