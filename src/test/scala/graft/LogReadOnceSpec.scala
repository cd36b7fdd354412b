package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.sources.{DeltaScan, DeltaWrite}

/** A Delta operation runs on ONE read of the table's log. A DML plans
  * from it: each commit JSON is opened at most once between the
  * operation's start and its first commit attempt (the
  * `beforeDmlCommit` seam). Its commit reuses it: from start to return,
  * an append or a DML opens each commit JSON once and each data file it
  * stages once (the footer read that gives the file's row count and
  * stats). A read of a checkpointed table opens `_last_checkpoint`,
  * each checkpoint file and each later commit once, and an
  * auto-checkpointing commit opens no log file, `_last_checkpoint`
  * included, twice. On a checkpointed table a DML plans from the
  * checkpoint: it opens no commit JSON the checkpoint covers. */
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

  test("append, deleteWhere, updateWhere, merge and compact open each commit JSON " +
      "and each staged file exactly once through the commit") {
    val base = CountingFileSystem.tempDir("graft_logonce_commit")
    val baseDir = base + "/base"
    DeltaWrite.create(spark, (0L until 10L).map(i => (i, s"v$i")).toDF("id", "v"), baseDir)
    (1 to 5).foreach { b =>
      DeltaWrite.append(spark,
        (0L until 10L).map(i => (b * 10L + i, s"v$b")).toDF("id", "v"), baseDir)
    }
    val copyOfBase = CountingFileSystem.copies(base)
    val ops: Seq[(String, String => Unit)] = Seq(
      "append" -> (d => DeltaWrite.append(spark,
        (100L until 110L).map(i => (i, "n")).toDF("id", "v"), d)),
      "deleteWhere" -> (d => DeltaWrite.deleteWhere(spark, d, col("id") < 3)),
      "updateWhere" -> (d => DeltaWrite.updateWhere(spark, d, col("id") >= 50,
        Seq("v" -> lit("u")))),
      "merge" -> (d => DeltaWrite.merge(spark, d,
        Seq((30L, "m"), (200L, "m")).toDF("id", "v"), Seq("id"))),
      "compact" -> (d => DeltaWrite.compact(spark, d, smallFileBytes = 1L << 30)))

    ops.foreach { case (name, op) =>
      val d = copyOfBase()
      val local = d.stripPrefix(s"${CountingFileSystem.Scheme}://")
      CountingFileSystem.opened.clear()
      op(d)
      val opens = CountingFileSystem.opened.asScala.toList
        .groupBy(identity).map { case (p, ps) => p -> ps.size }
      val logOpens = opens.filter(_._1.matches(".*/_delta_log/\\d{20}\\.json"))
      assert(logOpens == (0 until 6).map(v => f"$local/_delta_log/$v%020d.json" -> 1).toMap,
        s"$name must open each of the 6 commit JSONs exactly once: $logOpens")
      // the commit's adds are exactly the files the operation staged
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val staged = java.nio.file.Files.readAllLines(
          java.nio.file.Paths.get(f"$local/_delta_log/${6}%020d.json")).asScala
        .map(mapper.readTree)
        .filter(_.has("add")).map(a => s"$local/${a.get("add").get("path").asText()}")
      assert(staged.nonEmpty, s"$name staged no file")
      staged.foreach { p =>
        assert(opens.getOrElse(p, 0) == 1,
          s"$name must open its staged file $p exactly once: ${opens.getOrElse(p, 0)}")
      }
    }
  }

  /** log path (relative to `_delta_log/`) → opens since the last clear */
  private def logOpens(local: String): Map[String, Int] =
    CountingFileSystem.opened.asScala.toList
      .filter(_.startsWith(s"$local/_delta_log/"))
      .map(_.stripPrefix(s"$local/_delta_log/"))
      .groupBy(identity).map { case (p, ps) => p -> ps.size }

  private def logNames(local: String): Seq[String] = {
    val log = new java.io.File(s"$local/_delta_log")
    log.list().toSeq ++ Option(new java.io.File(log, "_sidecars").list()).toSeq.flatten
      .map(n => s"_sidecars/$n")
  }

  test("a read of a checkpointed table opens _last_checkpoint, each checkpoint " +
      "file and each later commit once") {
    Seq(false, true).foreach { v2 =>
      val dir = CountingFileSystem.tempDir("graft_logonce_read") + "/t"
      val local = dir.stripPrefix(s"${CountingFileSystem.Scheme}://")
      DeltaWrite.create(spark, Seq((0L, "v0")).toDF("id", "v"), dir)
      (1L to 3L).foreach(i => DeltaWrite.append(spark, Seq((i, s"v$i")).toDF("id", "v"), dir))
      if (v2) DeltaWrite.checkpointV2(spark, dir) else DeltaWrite.checkpoint(spark, dir)
      val cpV = DeltaScan.latestVersion(spark, dir)
      (4L to 5L).foreach(i => DeltaWrite.append(spark, Seq((i, s"v$i")).toDF("id", "v"), dir))
      CountingFileSystem.opened.clear()
      assert(DeltaScan.read(spark, dir).count() == 6L)
      val opens = logOpens(local)
      val expected = logNames(local).filter { n =>
        n == "_last_checkpoint" || n.startsWith("_sidecars/") ||
          n.startsWith(f"$cpV%020d.checkpoint.") ||
          (n.matches("\\d{20}\\.json") && n.stripSuffix(".json").toLong > cpV)
      }.toSet
      assert(expected.exists(_.contains(".checkpoint.")) && expected.size >= 4, expected)
      assert(opens == expected.map(_ -> 1).toMap,
        s"${if (v2) "v2" else "classic"}: the read must open exactly $expected once: $opens")
    }
  }

  test("deleteWhere and merge on a checkpointed table open no commit JSON at or below " +
      "the checkpoint and each log file at most once") {
    Seq(false, true).foreach { v2 =>
      val base = CountingFileSystem.tempDir("graft_logonce_cpdml")
      val baseDir = base + "/base"
      DeltaWrite.create(spark, (0L until 10L).map(i => (i, s"v$i")).toDF("id", "v"), baseDir)
      (1L to 3L).foreach { b =>
        DeltaWrite.append(spark,
          (0L until 10L).map(i => (b * 10L + i, s"v$b")).toDF("id", "v"), baseDir)
      }
      if (v2) DeltaWrite.checkpointV2(spark, baseDir) else DeltaWrite.checkpoint(spark, baseDir)
      val cpV = DeltaScan.latestVersion(spark, baseDir)
      (4L to 5L).foreach { b =>
        DeltaWrite.append(spark, Seq((b * 10L, s"v$b")).toDF("id", "v"), baseDir)
      }
      val copyOfBase = CountingFileSystem.copies(base)
      val ops: Seq[(String, String => Long)] = Seq(
        "deleteWhere" -> (d => DeltaWrite.deleteWhere(spark, d, col("id") < 3)),
        "merge" -> (d => DeltaWrite.merge(spark, d,
          Seq((11L, "m"), (200L, "m")).toDF("id", "v"), Seq("id"))._1))
      ops.foreach { case (name, op) =>
        val d = copyOfBase()
        val local = d.stripPrefix(s"${CountingFileSystem.Scheme}://")
        CountingFileSystem.opened.clear()
        assert(op(d) > 0L)
        val opens = logOpens(local)
        val layout = if (v2) "v2" else "classic"
        val early = opens.keys.filter(n =>
          n.matches("\\d{20}\\.json") && n.stripSuffix(".json").toLong <= cpV)
        assert(early.isEmpty, s"$layout $name read commits the checkpoint covers: $early")
        assert(opens.exists(_._1.startsWith(f"$cpV%020d.checkpoint.")),
          s"$layout $name planned from the checkpoint: $opens")
        assert(opens.values.forall(_ == 1), s"$layout $name opened a log file twice: $opens")
      }
    }
  }

  test("an auto-checkpointing commit parses no commit JSON twice") {
    val dir = CountingFileSystem.tempDir("graft_logonce_autocp") + "/t"
    val local = dir.stripPrefix(s"${CountingFileSystem.Scheme}://")
    DeltaWrite.create(spark, Seq((0L, "v0")).toDF("id", "v"), dir)
    DeltaWrite.setProperties(spark, dir, Map("delta.checkpointInterval" -> "4")) // v1
    (2L to 8L).foreach { i =>
      CountingFileSystem.opened.clear()
      DeltaWrite.append(spark, Seq((i, s"v$i")).toDF("id", "v"), dir)
      // the version comes from the listing, so `_last_checkpoint` is
      // read only when a snapshot needs the checkpoint: at most once
      val opens = logOpens(local)
      assert(opens.values.forall(_ == 1), s"commit $i opened a log file twice: $opens")
      if (i % 4 == 0) {
        assert(new java.io.File(f"$local/_delta_log/$i%020d.checkpoint.parquet").exists(),
          s"commit $i auto-checkpoints")
        assert(opens.contains(f"$i%020d.json"), s"commit $i is in its checkpoint: $opens")
      }
    }
    // the second checkpoint built incrementally from the first
    assert(DeltaScan.read(spark, dir).count() == 8L)
  }
}
