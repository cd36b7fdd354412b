package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.DeltaScan

/** Built-in Delta Lake reader against hand-fabricated tables — the log
  * JSON is written per the public protocol spec, so what's tested is
  * the replay semantics, not a connector round-trip. */
import scala.jdk.CollectionConverters._

class DeltaScanSpec extends SparkSpec {
  import spark.implicits._

  private val schemaJson =
    """{"type":"struct","fields":[
      |{"name":"id","type":"long","nullable":true,"metadata":{}},
      |{"name":"v","type":"string","nullable":true,"metadata":{}}]}"""
      .stripMargin.replaceAll("\n", "")

  private def metaAction(partCols: String = "[]", conf: String = "{}") =
    s"""{"metaData":{"id":"tbl-1","format":{"provider":"parquet","options":{}},
       |"schemaString":"${schemaJson.replace("\"", "\\\"")}",
       |"partitionColumns":$partCols,"configuration":$conf,"createdTime":1700000000000}}"""
      .stripMargin.replaceAll("\n", "")

  private val protoAction = """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}"""

  /** Writes `df` as ONE parquet file at tableDir/relPath, returns its size. */
  private def writeDataFile(df: DataFrame, tableDir: Path, relPath: String): Long = {
    val tmp = Files.createTempDirectory("graft_delta_part").toString
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = Files.list(Paths.get(tmp)).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    val dest = tableDir.resolve(relPath)
    Files.createDirectories(dest.getParent)
    Files.move(part, dest, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    Files.size(dest)
  }

  private def addAction(relPath: String, size: Long, pv: String = "{}") =
    s"""{"add":{"path":"$relPath","partitionValues":$pv,"size":$size,""" +
      """"modificationTime":1700000000000,"dataChange":true}}"""

  private def removeAction(relPath: String) =
    s"""{"remove":{"path":"$relPath","deletionTimestamp":1700000001000,"dataChange":true}}"""

  private def writeCommit(tableDir: Path, version: Long, actions: Seq[String]): Unit = {
    val log = tableDir.resolve("_delta_log")
    Files.createDirectories(log)
    Files.write(log.resolve(f"$version%020d.json"),
      actions.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }

  private def freshDir(name: String): Path = {
    val d = Files.createTempDirectory(name)
    d.toFile.deleteOnExit(); d
  }

  test("unpartitioned: add/remove replay, time travel, latestVersion") {
    val dir = freshDir("graft_delta_basic")
    val s0 = writeDataFile(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir, "f0.parquet")
    val s1 = writeDataFile(Seq((3L, "c")).toDF("id", "v"), dir, "f1.parquet")
    val s2 = writeDataFile(Seq((4L, "d")).toDF("id", "v"), dir, "f2.parquet")
    writeCommit(dir, 0, Seq(protoAction, metaAction(),
      addAction("f0.parquet", s0), addAction("f1.parquet", s1)))
    writeCommit(dir, 1, Seq(removeAction("f1.parquet"), addAction("f2.parquet", s2)))

    assert(DeltaScan.latestVersion(spark, dir.toString) == 1L)
    val now = DeltaScan.read(spark, dir.toString)
      .orderBy("id").as[(Long, String)].collect().toSeq
    assert(now == Seq((1L, "a"), (2L, "b"), (4L, "d"))) // f1 removed
    val v0 = DeltaScan.read(spark, dir.toString, versionAsOf = Some(0L))
      .orderBy("id").as[(Long, String)].collect().toSeq
    assert(v0 == Seq((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("readChanges: appended rows per version range; non-append ranges fail loudly") {
    val dir = freshDir("graft_delta_changes")
    val a = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val b = Seq((3L, "c")).toDF("id", "v")
    val c = Seq((4L, "d")).toDF("id", "v")
    graft.sources.DeltaWrite.create(spark, a, dir.toString)
    graft.sources.DeltaWrite.append(spark, b, dir.toString)
    graft.sources.DeltaWrite.append(spark, c, dir.toString)
    def ids(from: Long, to: Long) =
      DeltaScan.readChanges(spark, dir.toString, from, to)
        .select("id").collect().map(_.getLong(0)).toSet
    assert(ids(0L, 2L) == Set(3L, 4L))
    assert(ids(1L, 2L) == Set(4L))
    assert(ids(2L, 2L) == Set.empty[Long]) // empty range keeps the schema
    assert(DeltaScan.readChanges(spark, dir.toString, 2L, 2L).columns.toSeq
      == Seq("id", "v"))
    // a data-changing remove inside the range is not an append increment
    val rm = freshDir("graft_delta_changes_rm")
    val s0 = writeDataFile(a, rm, "f0.parquet")
    writeCommit(rm, 0, Seq(protoAction, metaAction(), addAction("f0.parquet", s0)))
    writeCommit(rm, 1, Seq(removeAction("f0.parquet")))
    intercept[IllegalArgumentException] {
      DeltaScan.readChanges(spark, rm.toString, 0L, 1L).collect()
    }
  }

  test("readTimestampAsOf resolves to the last commit at or before the timestamp " +
      "(in-commit add.modificationTime preferred over file mtime)") {
    val dir = freshDir("graft_delta_tsaof")
    // handwritten commits: add.modificationTime IS the in-commit
    // timestamp evidence (1700000000000); stamp the commit FILES with
    // garbage mtimes to prove a copy/restore can't skew resolution
    val t0 = 1700000000000L
    val s0 = writeDataFile(Seq((1L, "a")).toDF("id", "v"), dir, "f0.parquet")
    writeCommit(dir, 0, Seq(protoAction, metaAction(),
      s"""{"add":{"path":"f0.parquet","partitionValues":{},"size":$s0,""" +
        s""""modificationTime":$t0,"dataChange":true}}"""))
    val s1 = writeDataFile(Seq((2L, "b")).toDF("id", "v"), dir, "f1.parquet")
    writeCommit(dir, 1, Seq(
      s"""{"add":{"path":"f1.parquet","partitionValues":{},"size":$s1,""" +
        s""""modificationTime":${t0 + 4000L},"dataChange":true}}"""))
    val fs = new org.apache.hadoop.fs.Path(dir.toString)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val log = new org.apache.hadoop.fs.Path(dir.toString, "_delta_log")
    // a restore rewrote both commit-file mtimes to "now" — irrelevant
    fs.setTimes(new org.apache.hadoop.fs.Path(log, f"${0L}%020d.json"),
      System.currentTimeMillis(), -1)
    fs.setTimes(new org.apache.hadoop.fs.Path(log, f"${1L}%020d.json"),
      System.currentTimeMillis(), -1)
    def ids(ts: Long) = DeltaScan.readTimestampAsOf(spark, dir.toString, ts)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ids(t0) == Set(1L))          // exactly at commit 0
    assert(ids(t0 + 3999L) == Set(1L))  // before commit 1
    assert(ids(t0 + 4000L) == Set(1L, 2L))
    assert(ids(Long.MaxValue) == Set(1L, 2L))
    intercept[IllegalArgumentException] { ids(t0 - 1L) } // precedes first commit
  }

  test("readTimestampAsOf falls back to commit-file mtime when commits carry no timestamps") {
    val dir = freshDir("graft_delta_tsaof_mtime")
    val s0 = writeDataFile(Seq(Tuple1(1L)).toDF("id"), dir, "f0.parquet")
    // adds WITHOUT modificationTime and no commitInfo → mtime is the
    // only evidence left
    writeCommit(dir, 0, Seq(protoAction, metaAction(),
      s"""{"add":{"path":"f0.parquet","partitionValues":{},"size":$s0,"dataChange":true}}"""))
    val s1 = writeDataFile(Seq(Tuple1(2L)).toDF("id"), dir, "f1.parquet")
    writeCommit(dir, 1, Seq(
      s"""{"add":{"path":"f1.parquet","partitionValues":{},"size":$s1,"dataChange":true}}"""))
    val fs = new org.apache.hadoop.fs.Path(dir.toString)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val log = new org.apache.hadoop.fs.Path(dir.toString, "_delta_log")
    fs.setTimes(new org.apache.hadoop.fs.Path(log, f"${0L}%020d.json"), 1000L, -1)
    fs.setTimes(new org.apache.hadoop.fs.Path(log, f"${1L}%020d.json"), 5000L, -1)
    def ids(ts: Long) = DeltaScan.readTimestampAsOf(spark, dir.toString, ts)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ids(1000L) == Set(1L))
    assert(ids(5000L) == Set(1L, 2L))
    intercept[IllegalArgumentException] { ids(999L) }
  }

  test("hive-layout partitioned table: partition column from dirs, pruning-capable plan") {
    val dir = freshDir("graft_delta_part")
    val partSchema = """["v"]"""
    val s0 = writeDataFile(Seq(Tuple1(1L)).toDF("id"), dir, "v=x/f0.parquet")
    val s1 = writeDataFile(Seq(Tuple1(2L)).toDF("id"), dir, "v=y/f1.parquet")
    writeCommit(dir, 0, Seq(protoAction, metaAction(partCols = partSchema),
      addAction("v=x/f0.parquet", s0, pv = """{"v":"x"}"""),
      addAction("v=y/f1.parquet", s1, pv = """{"v":"y"}""")))
    val out = DeltaScan.read(spark, dir.toString)
      .orderBy("id").as[(Long, String)].collect().toSeq
    assert(out == Seq((1L, "x"), (2L, "y")))
    // partition filter prunes to one file (PartitionFilters in scan)
    val plan = DeltaScan.read(spark, dir.toString).filter(col("v") === "x")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(v"))
  }

  test("non-hive partition layout: values injected from partitionValues map") {
    val dir = freshDir("graft_delta_flatpart")
    val s0 = writeDataFile(Seq(Tuple1(1L)).toDF("id"), dir, "fa.parquet")
    val s1 = writeDataFile(Seq(Tuple1(2L)).toDF("id"), dir, "fb.parquet")
    writeCommit(dir, 0, Seq(protoAction, metaAction(partCols = """["v"]"""),
      addAction("fa.parquet", s0, pv = """{"v":"x"}"""),
      addAction("fb.parquet", s1, pv = """{"v":"y"}""")))
    val out = DeltaScan.read(spark, dir.toString)
      .orderBy("id").as[(Long, String)].collect().toSeq
    assert(out == Seq((1L, "x"), (2L, "y")))
  }

  test("checkpoint: replay starts from the checkpoint, later commits apply on top") {
    val dir = freshDir("graft_delta_cp")
    val s0 = writeDataFile(Seq((1L, "a")).toDF("id", "v"), dir, "f0.parquet")
    val s1 = writeDataFile(Seq((2L, "b")).toDF("id", "v"), dir, "f1.parquet")
    val s2 = writeDataFile(Seq((3L, "c")).toDF("id", "v"), dir, "f2.parquet")
    writeCommit(dir, 0, Seq(protoAction, metaAction(), addAction("f0.parquet", s0)))
    writeCommit(dir, 1, Seq(addAction("f1.parquet", s1)))

    // checkpoint at v1: protocol + metaData + live adds, as parquet
    val cpSchema = StructType(Seq(
      StructField("add", StructType(Seq(
        StructField("path", StringType),
        StructField("partitionValues", MapType(StringType, StringType)),
        StructField("size", LongType),
        StructField("dataChange", BooleanType)))),
      StructField("remove", StructType(Seq(StructField("path", StringType)))),
      StructField("metaData", StructType(Seq(
        StructField("id", StringType),
        StructField("schemaString", StringType),
        StructField("partitionColumns", ArrayType(StringType)),
        StructField("configuration", MapType(StringType, StringType))))),
      StructField("protocol", StructType(Seq(
        StructField("minReaderVersion", IntegerType))))))
    val schemaStr = schemaJson
    val rows = Seq(
      Row(Row("f0.parquet", Map.empty[String, String], s0, true), null, null, null),
      Row(Row("f1.parquet", Map.empty[String, String], s1, true), null, null, null),
      Row(null, null, Row("tbl-1", schemaStr, Seq.empty[String], Map.empty[String, String]), null),
      Row(null, null, null, Row(1)))
    val tmp = Files.createTempDirectory("graft_delta_cpw").toString
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), cpSchema)
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = Files.list(Paths.get(tmp))
      .filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get()
    val log = dir.resolve("_delta_log")
    Files.move(part, log.resolve(f"${1L}%020d.checkpoint.parquet"))
    Files.write(log.resolve("_last_checkpoint"),
      """{"version":1,"size":4}""".getBytes(StandardCharsets.UTF_8))
    // simulate log cleanup: delete the pre-checkpoint commits
    Files.delete(log.resolve(f"${0L}%020d.json"))
    Files.delete(log.resolve(f"${1L}%020d.json"))
    // a post-checkpoint commit removes f0 and adds f2
    writeCommit(dir, 2, Seq(removeAction("f0.parquet"), addAction("f2.parquet", s2)))

    val out = DeltaScan.read(spark, dir.toString)
      .orderBy("id").as[(Long, String)].collect().toSeq
    assert(out == Seq((2L, "b"), (3L, "c")))
  }

  test("reader features: v2Checkpoint accepted; unknown features fail loudly") {
    val dir = freshDir("graft_delta_unsup")
    val s0 = writeDataFile(Seq((1L, "a")).toDF("id", "v"), dir, "f0.parquet")
    val v2proto =
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["v2Checkpoint"]}}"""
    writeCommit(dir, 0, Seq(v2proto, metaAction(), addAction("f0.parquet", s0)))
    assert(DeltaScan.read(spark, dir.toString).count() == 1L)

    val dir2 = freshDir("graft_delta_unsup2")
    val s1 = writeDataFile(Seq((1L, "a")).toDF("id", "v"), dir2, "f0.parquet")
    val unknown =
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["futureFeatureX"]}}"""
    writeCommit(dir2, 0, Seq(unknown, metaAction(), addAction("f0.parquet", s1)))
    val e = intercept[IllegalArgumentException] { DeltaScan.read(spark, dir2.toString) }
    assert(e.getMessage.contains("futureFeatureX"))
  }

  // ---- deletion vectors ------------------------------------------------

  /** `<magic><portable RoaringBitmapArray>` per the Delta protocol; the
    * writer half of sources.DeletionVectors — array, bitmap, and run
    * containers all exercised from the tests. */
  private def serializeDvData(positions: Seq[Long], asRuns: Boolean = false): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    def i32(v: Int): Unit =
      bos.write(Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte))
    def i16(v: Int): Unit = bos.write(Array[Byte](v.toByte, (v >> 8).toByte))
    def i64(v: Long): Unit = { i32((v & 0xFFFFFFFFL).toInt); i32((v >>> 32).toInt) }
    i32(1681511377)
    val byKey = positions.groupBy(p => (p >>> 32).toInt)
    val nBitmaps = if (byKey.isEmpty) 0 else byKey.keys.max + 1
    i64(nBitmaps.toLong)
    for (key <- 0 until nBitmaps) {
      val vals32 = byKey.getOrElse(key, Seq.empty).map(p => (p & 0xFFFFFFFFL).toInt).sorted
      val containers = vals32.groupBy(v => v >>> 16).toSeq.sortBy(_._1)
        .map { case (hi, vs) => (hi, vs.map(_ & 0xFFFF).sorted) }
      if (asRuns) {
        // SERIAL_COOKIE with every container run-encoded
        i32(12347 | ((containers.size - 1) << 16))
        val flags = new Array[Byte]((containers.size + 7) / 8)
        containers.indices.foreach(i => flags(i / 8) = (flags(i / 8) | (1 << (i % 8))).toByte)
        bos.write(flags)
        containers.foreach { case (hi, vs) => i16(hi); i16(vs.size - 1) }
        if (containers.size >= 4) containers.foreach(_ => i32(0)) // parser skips offsets
        containers.foreach { case (_, vs) =>
          val runs = vs.foldLeft(List.empty[(Int, Int)]) {
            case ((s, e) :: rest, v) if v == e + 1 => (s, v) :: rest
            case (acc, v) => (v, v) :: acc
          }.reverse
          i16(runs.size)
          runs.foreach { case (s, e) => i16(s); i16(e - s) }
        }
      } else {
        i32(12346); i32(containers.size)
        containers.foreach { case (hi, vs) => i16(hi); i16(vs.size - 1) }
        // offset header (mandatory for the no-run cookie)
        var off = 4 + 4 + 4 * containers.size + 4 * containers.size
        containers.foreach { case (_, vs) =>
          i32(off)
          off += (if (vs.size > 4096) 8192 else 2 * vs.size)
        }
        containers.foreach { case (_, vs) =>
          if (vs.size > 4096) {
            val words = new Array[Long](1024)
            vs.foreach(v => words(v / 64) |= (1L << (v % 64)))
            words.foreach(i64)
          } else vs.foreach(i16)
        }
      }
    }
    bos.toByteArray
  }

  /** Write DV payloads into one `deletion_vector_<uuid>.bin` (version
    * byte, then per-DV `<BE size><data><crc>`), returning the add-action
    * descriptor JSON + parsed offsets for each payload. */
  private def writeDvFile(tableDir: Path, payloads: Seq[Array[Byte]]): (String, Seq[(Int, Int)]) = {
    val uuidBytes = Array.tabulate[Byte](16)(i => (i + 1).toByte)
    val bb = java.nio.ByteBuffer.wrap(uuidBytes)
    val uuid = new java.util.UUID(bb.getLong, bb.getLong)
    val encoded = graft.sources.DeletionVectors.z85Encode(uuidBytes)
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(1) // format version
    val offsets = payloads.map { data =>
      val off = bos.size()
      bos.write(Array[Byte]((data.length >> 24).toByte, (data.length >> 16).toByte,
        (data.length >> 8).toByte, data.length.toByte)) // big-endian size
      bos.write(data)
      val crc = new java.util.zip.CRC32(); crc.update(data)
      val c = crc.getValue.toInt
      bos.write(Array[Byte]((c >> 24).toByte, (c >> 16).toByte, (c >> 8).toByte, c.toByte))
      (off, data.length)
    }
    Files.write(tableDir.resolve(s"deletion_vector_$uuid.bin"), bos.toByteArray)
    (encoded, offsets)
  }

  private def dvAddAction(relPath: String, size: Long, storageType: String,
                          ref: String, offset: Option[Int], dvSize: Int, card: Long) = {
    val offJson = offset.map(o => s""""offset":$o,""").getOrElse("")
    s"""{"add":{"path":"$relPath","partitionValues":{},"size":$size,""" +
      """"modificationTime":1700000000000,"dataChange":true,"deletionVector":{""" +
      s""""storageType":"$storageType","pathOrInlineDv":"$ref",$offJson""" +
      s""""sizeInBytes":$dvSize,"cardinality":$card}}}"""
  }

  private val dvProto =
    """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"]}}"""

  test("deletion vectors: on-disk 'u' storage, two DVs in one file, array+run containers") {
    val dir = freshDir("graft_delta_dv_u")
    val df0 = spark.range(0, 100).select(col("id"), concat(lit("r"), col("id")).as("v"))
    val df1 = spark.range(100, 200).select(col("id"), concat(lit("r"), col("id")).as("v"))
    val s0 = writeDataFile(df0, dir, "f0.parquet")
    val s1 = writeDataFile(df1, dir, "f1.parquet")
    // f0 drops rows 0..9 (run container), f1 drops odd positions 1,3,5 (array)
    val dv0 = serializeDvData(0L to 9L, asRuns = true)
    val dv1 = serializeDvData(Seq(1L, 3L, 5L))
    val (ref, offs) = writeDvFile(dir, Seq(dv0, dv1))
    writeCommit(dir, 0, Seq(dvProto, metaAction(),
      dvAddAction("f0.parquet", s0, "u", ref, Some(offs(0)._1), offs(0)._2, 10L),
      dvAddAction("f1.parquet", s1, "u", ref, Some(offs(1)._1), offs(1)._2, 3L)))

    val out = DeltaScan.read(spark, dir.toString).orderBy("id")
      .as[(Long, String)].collect().toSeq
    val expect = ((10L until 100L) ++ Seq(100L, 102L, 104L) ++ (106L until 200L))
      .map(i => (i, s"r$i"))
    assert(out == expect)
  }

  test("deletion vectors: inline 'i' storage; re-added file's DV supersedes") {
    val dir = freshDir("graft_delta_dv_i")
    val df0 = spark.range(0, 10).select(col("id"), concat(lit("r"), col("id")).as("v"))
    val s0 = writeDataFile(df0, dir, "f0.parquet")
    writeCommit(dir, 0, Seq(dvProto, metaAction(), addAction("f0.parquet", s0)))
    // v1 re-adds f0 with an inline DV deleting positions 2 and 7
    val data = serializeDvData(Seq(2L, 7L))
    val padded = data ++ Array.fill[Byte]((4 - data.length % 4) % 4)(0)
    val inline = graft.sources.DeletionVectors.z85Encode(padded)
    writeCommit(dir, 1, Seq(
      dvAddAction("f0.parquet", s0, "i", inline, None, data.length, 2L)))

    val out = DeltaScan.read(spark, dir.toString).orderBy("id").as[(Long, String)].collect().toSeq
    assert(out.map(_._1) == Seq(0L, 1L, 3L, 4L, 5L, 6L, 8L, 9L))
    // time travel to v0 still sees all ten rows
    assert(DeltaScan.read(spark, dir.toString, Some(0L)).count() == 10L)
  }

  test("deletion vectors: bitmap container (cardinality > 4096) decodes") {
    val positions = (0L until 5000L).filter(_ % 3 != 0)
    val data = serializeDvData(positions)
    val decoded = graft.sources.DeletionVectors.decode(data, data.length)
    assert(decoded.toSeq == positions)
    // multi-bitmap: values above 2^32 land in the second roaring bitmap
    val hi = Seq(5L, (1L << 32) + 7L, (1L << 32) + 9L)
    val d2 = serializeDvData(hi)
    assert(graft.sources.DeletionVectors.decode(d2, d2.length).toSeq == hi)
  }

  // ---- column mapping ---------------------------------------------------

  private val mappedSchemaJson =
    """{"type":"struct","fields":[
      |{"name":"id","type":"long","nullable":true,"metadata":{"delta.columnMapping.id":1,"delta.columnMapping.physicalName":"col-aa11"}},
      |{"name":"pt","type":{"type":"struct","fields":[
      |{"name":"x","type":"double","nullable":true,"metadata":{"delta.columnMapping.id":3,"delta.columnMapping.physicalName":"col-x9"}},
      |{"name":"y","type":"double","nullable":true,"metadata":{"delta.columnMapping.id":4,"delta.columnMapping.physicalName":"col-y9"}}]},
      |"nullable":true,"metadata":{"delta.columnMapping.id":2,"delta.columnMapping.physicalName":"col-pt77"}}]}"""
      .stripMargin.replaceAll("\n", "")

  test("column mapping (name mode): physical parquet names map back to logical, nested too") {
    val dir = freshDir("graft_delta_cm")
    val physDf = spark.range(0, 3).select(col("id").as("col-aa11"),
      struct((col("id") * 2.0).as("col-x9"), (col("id") * 3.0).as("col-y9")).as("col-pt77"))
    val s0 = writeDataFile(physDf, dir, "f0.parquet")
    val metaCm =
      s"""{"metaData":{"id":"tbl-cm","format":{"provider":"parquet","options":{}},
         |"schemaString":"${mappedSchemaJson.replace("\"", "\\\"")}",
         |"partitionColumns":[],"configuration":{"delta.columnMapping.mode":"name"},
         |"createdTime":1700000000000}}""".stripMargin.replaceAll("\n", "")
    val proto2 = """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}"""
    writeCommit(dir, 0, Seq(proto2, metaCm, addAction("f0.parquet", s0)))

    val out = DeltaScan.read(spark, dir.toString)
    assert(out.schema.fieldNames.toSeq == Seq("id", "pt"))
    assert(out.schema("pt").dataType.asInstanceOf[StructType].fieldNames.toSeq == Seq("x", "y"))
    val rows = out.orderBy("id").select("id", "pt.x", "pt.y")
      .as[(Long, Double, Double)].collect().toSeq
    assert(rows == Seq((0L, 0.0, 0.0), (1L, 2.0, 3.0), (2L, 4.0, 6.0)))
  }

  test("column mapping + partition columns: physical partitionValues keys map to logical") {
    val dir = freshDir("graft_delta_cm_part")
    val schemaCmPart =
      """{"type":"struct","fields":[
        |{"name":"id","type":"long","nullable":true,"metadata":{"delta.columnMapping.id":1,"delta.columnMapping.physicalName":"col-i"}},
        |{"name":"v","type":"string","nullable":true,"metadata":{"delta.columnMapping.id":2,"delta.columnMapping.physicalName":"col-v"}}]}"""
        .stripMargin.replaceAll("\n", "")
    val physDf0 = Seq(Tuple1(1L)).toDF("col-i")
    val physDf1 = Seq(Tuple1(2L)).toDF("col-i")
    val s0 = writeDataFile(physDf0, dir, "fa.parquet")
    val s1 = writeDataFile(physDf1, dir, "fb.parquet")
    val metaCm =
      s"""{"metaData":{"id":"tbl-cmp","format":{"provider":"parquet","options":{}},
         |"schemaString":"${schemaCmPart.replace("\"", "\\\"")}",
         |"partitionColumns":["v"],"configuration":{"delta.columnMapping.mode":"name"},
         |"createdTime":1700000000000}}""".stripMargin.replaceAll("\n", "")
    val proto2 = """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}"""
    writeCommit(dir, 0, Seq(proto2, metaCm,
      addAction("fa.parquet", s0, pv = """{"col-v":"x"}"""),
      addAction("fb.parquet", s1, pv = """{"col-v":"y"}""")))
    val out = DeltaScan.read(spark, dir.toString)
      .orderBy("id").as[(Long, String)].collect().toSeq
    assert(out == Seq((1L, "x"), (2L, "y")))
  }

  // ---- multi-part checkpoint ---------------------------------------------

  test("multi-part checkpoint: all parts read, later commits apply on top") {
    val dir = freshDir("graft_delta_mpcp")
    val s0 = writeDataFile(Seq((1L, "a")).toDF("id", "v"), dir, "f0.parquet")
    val s1 = writeDataFile(Seq((2L, "b")).toDF("id", "v"), dir, "f1.parquet")
    val s2 = writeDataFile(Seq((3L, "c")).toDF("id", "v"), dir, "f2.parquet")
    writeCommit(dir, 0, Seq(protoAction, metaAction(), addAction("f0.parquet", s0)))
    writeCommit(dir, 1, Seq(addAction("f1.parquet", s1)))

    val cpSchema = StructType(Seq(
      StructField("add", StructType(Seq(
        StructField("path", StringType),
        StructField("partitionValues", MapType(StringType, StringType)),
        StructField("size", LongType),
        StructField("dataChange", BooleanType)))),
      StructField("metaData", StructType(Seq(
        StructField("id", StringType),
        StructField("schemaString", StringType),
        StructField("partitionColumns", ArrayType(StringType)),
        StructField("configuration", MapType(StringType, StringType))))),
      StructField("protocol", StructType(Seq(
        StructField("minReaderVersion", IntegerType))))))
    def writePart(rows: Seq[Row], name: String): Unit = {
      val tmp = Files.createTempDirectory("graft_delta_mpcpw").toString
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), cpSchema)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = Files.list(Paths.get(tmp))
        .filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get()
      Files.move(part, dir.resolve("_delta_log").resolve(name))
    }
    // part 1: metadata + protocol + f0; part 2: f1
    writePart(Seq(
      Row(Row("f0.parquet", Map.empty[String, String], s0, true), null, null),
      Row(null, Row("tbl-1", schemaJson, Seq.empty[String], Map.empty[String, String]), null),
      Row(null, null, Row(1))),
      f"${1L}%020d.checkpoint.${1}%010d.${2}%010d.parquet")
    writePart(Seq(
      Row(Row("f1.parquet", Map.empty[String, String], s1, true), null, null)),
      f"${1L}%020d.checkpoint.${2}%010d.${2}%010d.parquet")
    val log = dir.resolve("_delta_log")
    Files.write(log.resolve("_last_checkpoint"),
      """{"version":1,"size":4,"parts":2}""".getBytes(StandardCharsets.UTF_8))
    Files.delete(log.resolve(f"${0L}%020d.json"))
    Files.delete(log.resolve(f"${1L}%020d.json"))
    writeCommit(dir, 2, Seq(removeAction("f0.parquet"), addAction("f2.parquet", s2)))

    val out = DeltaScan.read(spark, dir.toString)
      .orderBy("id").as[(Long, String)].collect().toSeq
    assert(out == Seq((2L, "b"), (3L, "c")))
  }

  test("DeltaWrite round-trip: create + append read back by the built-in reader") {
    import graft.sources.DeltaWrite
    val dir = freshDir("graft_delta_rt").toString
    val a = Seq((1L, "x", "en"), (2L, "y", "de")).toDF("id", "v", "lang")
    val b = Seq((3L, "z", "en")).toDF("id", "v", "lang")
    DeltaWrite.create(spark, a, dir, partitionBy = Seq("lang"))
    DeltaWrite.append(spark, b, dir, partitionBy = Seq("lang"))
    assert(DeltaScan.latestVersion(spark, dir) == 1L)
    // latest = both commits; partition column readable and filterable
    val all = DeltaScan.read(spark, dir)
      .select("id", "v", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(all == Set((1L, "x", "en"), (2L, "y", "de"), (3L, "z", "en")))
    assert(DeltaScan.read(spark, dir).filter(col("lang") === "en").count() == 2)
    // time travel back to the create commit
    val v0 = DeltaScan.read(spark, dir, versionAsOf = Some(0L))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(v0 == Set(1L, 2L))
    // creating over an existing table is a loud error
    val e = intercept[IllegalArgumentException] {
      DeltaWrite.create(spark, a, dir)
    }
    assert(e.getMessage.contains("already exists"))
    // mismatched appends are loud, not silent corruption
    assert(intercept[IllegalArgumentException] {
      DeltaWrite.append(spark, b, dir) // partitioning omitted
    }.getMessage.contains("partitioning"))
    assert(intercept[IllegalArgumentException] {
      DeltaWrite.append(spark,
        Seq((9, "w", "en")).toDF("id", "v", "lang"), // id int, not long
        dir, partitionBy = Seq("lang"))
    }.getMessage.contains("schema"))
  }

  test("DeltaWrite: concurrent commit to the same version fails loudly") {
    import graft.sources.DeltaWrite
    val dir = freshDir("graft_delta_conc").toString
    val a = Seq((1L, "x")).toDF("id", "v")
    DeltaWrite.create(spark, a, dir)
    DeltaWrite.append(spark, a, dir) // version 1 committed
    // a racing writer whose view of the log is stale targets v1 too —
    // the conditional create must reject it, not clobber the commit
    val before = java.nio.file.Files.readString(java.nio.file.Paths.get(
      s"$dir/_delta_log/00000000000000000001.json"))
    val e = intercept[java.util.ConcurrentModificationException] {
      DeltaWrite.appendAt(spark, a, dir, version = 1L)
    }
    assert(e.getMessage.contains("concurrent Delta commit"))
    val after = java.nio.file.Files.readString(java.nio.file.Paths.get(
      s"$dir/_delta_log/00000000000000000001.json"))
    assert(before == after) // the winning commit is untouched
  }

  test("appendWithRetry: two racing writers interleave without loss or cross-claimed rows") {
    import graft.sources.{DeltaScan, DeltaWrite}
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val dir = freshDir("graft_delta_retry").toString
    DeltaWrite.create(spark, Seq((-1L, "seed")).toDF("id", "v"), dir)
    // two writers, five appends each, racing on version numbers — every
    // row must land exactly once (the staged-move add discovery cannot
    // cross-claim the other writer's in-flight files)
    val writers = (0 until 2).map { w =>
      Future {
        (0 until 5).foreach { i =>
          DeltaWrite.appendWithRetry(spark,
            Seq((w * 10L + i, s"w$w")).toDF("id", "v"), dir, maxRetries = 20)
        }
      }
    }
    writers.foreach(Await.result(_, 120.seconds))
    assert(DeltaScan.latestVersion(spark, dir) == 10L) // 1 create + 10 appends
    val rows = DeltaScan.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(rows.length == 11) // exactly once each — no dupes, no loss
    assert(rows.map(_._1).toSet ==
      (Set(-1L) ++ (0 until 5).map(_.toLong) ++ (0 until 5).map(_ + 10L)))
    // no orphaned staging directories survive
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .exists(_.getPath.getName.startsWith(".staging-")))
    // lost-round data files (moved into the root, never committed) are
    // UNTRACKED — vacuum reclaims them past retention, and the live
    // table is untouched
    val orphan = new org.apache.hadoop.fs.Path(dir, "part-orphan-lostround.parquet")
    Seq((99L, "ghost")).toDF("id", "v").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/.tmp-orphan")
    val src = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/.tmp-orphan"))
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    fs.rename(src, orphan)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/.tmp-orphan"), true)
    val reclaimed = DeltaWrite.vacuum(spark, dir, retainMs = 0L)
    assert(reclaimed.contains("part-orphan-lostround.parquet"))
    assert(!fs.exists(orphan))
    assert(DeltaScan.read(spark, dir).count() == 11L) // live rows intact
  }

  test("DML OCC: disjoint appends commute with a racing DELETE; overlapping work aborts loudly") {
    import graft.sources.{DeltaScan, DeltaWrite}
    import org.apache.spark.sql.functions.col
    def racing(body: => Unit)(dml: => Unit): Unit = {
      DeltaWrite.beforeDmlCommit = () => { DeltaWrite.beforeDmlCommit = () => (); body }
      try dml finally DeltaWrite.beforeDmlCommit = () => ()
    }

    // 1) a DELETE whose predicate the racing append's stats PROVE disjoint
    //    commutes: both effects land, serial order append-then-delete
    val d1 = freshDir("graft_occ_commute").toString
    DeltaWrite.create(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), d1)
    DeltaWrite.append(spark, Seq((3L, "c"), (4L, "d")).toDF("id", "v"), d1)
    var n1 = -1L
    racing(DeltaWrite.append(spark, Seq((100L, "late")).toDF("id", "v"), d1)) {
      n1 = DeltaWrite.deleteWhere(spark, d1, col("id") <= 2L)
    }
    assert(n1 == 2L)
    assert(DeltaScan.read(spark, d1).collect().map(_.getLong(0)).toSet ==
      Set(3L, 4L, 100L), "commuting append must survive the delete's retry")

    // 2) a racing append whose rows MAY match the predicate aborts the
    //    DELETE — nothing committed by the loser, the append's rows live
    val d2 = freshDir("graft_occ_append_conflict").toString
    DeltaWrite.create(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), d2)
    val e2 = intercept[java.util.ConcurrentModificationException] {
      racing(DeltaWrite.append(spark, Seq((1L, "dup")).toDF("id", "v"), d2)) {
        DeltaWrite.deleteWhere(spark, d2, col("id") === 1L)
      }
    }
    assert(e2.getMessage.contains("matching"), s"wrong conflict reason: $e2")
    assert(DeltaScan.read(spark, d2).count() == 3L,
      "refused delete must leave winner's rows + original rows intact")

    // 3) two DMLs rewriting the SAME file conflict — the loser aborts
    //    instead of removing an already-removed file
    val d3 = freshDir("graft_occ_samefile").toString
    // ONE data file, so both DMLs rewrite the same file (separate files
    // would correctly commute — that's scenario 1)
    DeltaWrite.create(spark,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v").coalesce(1), d3)
    val e3 = intercept[java.util.ConcurrentModificationException] {
      racing { assert(DeltaWrite.deleteWhere(spark, d3, col("id") === 2L) == 1L) } {
        DeltaWrite.updateWhere(spark, d3, col("id") === 3L,
          Seq("v" -> org.apache.spark.sql.functions.lit("z")))
      }
    }
    // the conflict may surface as the survivor-file add matching the
    // update's predicate OR as the victim-file remove — both are the
    // same lost-update hazard
    assert(e3.getMessage.contains("conflicts with concurrent commit"),
      s"wrong conflict reason: $e3")
    assert(DeltaScan.read(spark, d3).collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "a"), (3L, "c")), "winner's delete applied exactly once, loser aborted clean")

    // 4) MERGE read the whole table: ANY racing data append conflicts
    //    (an unseen row could collide with a source key)
    val d4 = freshDir("graft_occ_merge").toString
    import spark.implicits._
    DeltaWrite.create(spark, Seq((1L, "a")).toDF("id", "v"), d4)
    val e4 = intercept[java.util.ConcurrentModificationException] {
      racing(DeltaWrite.append(spark, Seq((5L, "late")).toDF("id", "v"), d4)) {
        DeltaWrite.merge(spark, d4, Seq((1L, "upd"), (9L, "new")).toDF("id", "v"), Seq("id"))
      }
    }
    assert(e4.getMessage.contains("whole table"), s"wrong conflict reason: $e4")

    // 5) compact racing a disjoint append commutes (reads only its victims)
    val d5 = freshDir("graft_occ_compact").toString
    DeltaWrite.create(spark, Seq((1L, "a")).toDF("id", "v"), d5)
    DeltaWrite.append(spark, Seq((2L, "b")).toDF("id", "v"), d5)
    racing(DeltaWrite.append(spark, Seq((3L, "c")).toDF("id", "v"), d5)) {
      DeltaWrite.compact(spark, d5, smallFileBytes = 1L << 30)
    }
    assert(DeltaScan.read(spark, d5).collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L))

    // 6) a racing metadata change (new CHECK constraint) aborts any DML
    val d6 = freshDir("graft_occ_meta").toString
    DeltaWrite.create(spark, Seq((1L, 5L), (2L, -7L)).toDF("id", "score"), d6)
    val e6 = intercept[java.util.ConcurrentModificationException] {
      racing(DeltaWrite.addCheckConstraint(spark, d6, "neg_ok", "id > 0")) {
        DeltaWrite.deleteWhere(spark, d6, col("score") < 0L)
      }
    }
    // the constraint commit carries a protocol upgrade + metaData — either
    // action is a valid conflict reason
    assert(e6.getMessage.contains("metadata") || e6.getMessage.contains("protocol"),
      s"wrong conflict reason: $e6")
  }

  test("DeltaWrite.checkpoint: reader replays from the checkpoint after log truncation") {
    import graft.sources.DeltaWrite
    val dir = freshDir("graft_delta_ckpt").toString
    DeltaWrite.create(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir)
    DeltaWrite.append(spark, Seq((3L, "c")).toDF("id", "v"), dir)
    DeltaWrite.append(spark, Seq((4L, "d")).toDF("id", "v"), dir)
    DeltaWrite.checkpoint(spark, dir)
    // checkpoint artifacts exist and the snapshot reads identically
    val log = new java.io.File(s"$dir/_delta_log")
    assert(new java.io.File(log, "00000000000000000002.checkpoint.parquet").exists())
    assert(new java.io.File(log, "_last_checkpoint").exists())
    def readAll() = DeltaScan.read(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val expected = Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))
    assert(readAll() == expected)
    // appends continue on top of the checkpoint
    DeltaWrite.append(spark, Seq((5L, "e")).toDF("id", "v"), dir)
    assert(readAll() == expected + ((5L, "e")))
    // the checkpoint REPLACES the early commits: delete them, replay
    // must come from checkpoint + JSON tail only
    (0 to 1).foreach { v =>
      assert(new java.io.File(log, f"$v%020d.json").delete())
    }
    assert(readAll() == expected + ((5L, "e")))
    // INCREMENTAL checkpointing: the truncated-before-checkpoint log
    // re-checkpoints fine (prev checkpoint + tail is the whole input)
    DeltaWrite.checkpoint(spark, dir)
    assert(new java.io.File(log, "00000000000000000003.checkpoint.parquet").exists())
    assert(new java.io.File(log, "00000000000000000003.json").delete())
    assert(readAll() == expected + ((5L, "e")))
    // but a GAP in the tail after the checkpoint stays loud
    DeltaWrite.append(spark, Seq((6L, "f")).toDF("id", "v"), dir)
    DeltaWrite.append(spark, Seq((7L, "g")).toDF("id", "v"), dir)
    assert(new java.io.File(log, "00000000000000000004.json").delete())
    assert(intercept[IllegalArgumentException] {
      DeltaWrite.checkpoint(spark, dir)
    }.getMessage.contains("missing"))
  }

  test("auto-checkpoint: every Nth commit writes a checkpoint; readers " +
    "replay from it; interval property overrides; 0 disables") {
    import graft.sources.DeltaWrite
    val dir = freshDir("graft_delta_autockpt").toString
    val log = new java.io.File(s"$dir/_delta_log")
    DeltaWrite.create(spark, Seq((0L, "x")).toDF("id", "v"), dir) // v0
    // 24 more commits on the default interval (10): checkpoints land
    // at v10 and v20 with no explicit checkpoint() call
    (1 to 24).foreach { i =>
      DeltaWrite.append(spark, Seq((i.toLong, s"x$i")).toDF("id", "v"), dir)
    }
    assert(new java.io.File(log, "00000000000000000010.checkpoint.parquet").exists(),
      "commit 10 must auto-checkpoint (protocol default interval)")
    assert(new java.io.File(log, "00000000000000000020.checkpoint.parquet").exists())
    assert(new java.io.File(log, "_last_checkpoint").exists())
    val lastCp = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(log, "_last_checkpoint").toPath))
    assert(lastCp.contains("\"version\":20"), lastCp)
    def readAll() = DeltaScan.read(spark, dir)
      .collect().map(_.getLong(0)).toSet
    assert(readAll() == (0L to 24L).toSet)
    // the 25-commit table reads FROM the checkpoint: pre-checkpoint
    // JSON gone, replay = checkpoint + 4-commit tail
    (0 to 19).foreach { v =>
      assert(new java.io.File(log, f"$v%020d.json").delete())
    }
    assert(readAll() == (0L to 24L).toSet)

    // DML paths (the commitLog producer) auto-checkpoint too: the
    // interval property re-times it
    DeltaWrite.setProperties(spark, dir,
      Map("delta.checkpointInterval" -> "5")) // v25
    (26 to 30).foreach { i =>
      DeltaWrite.append(spark, Seq((i.toLong, s"x$i")).toDF("id", "v"), dir)
    }
    assert(new java.io.File(log, "00000000000000000025.checkpoint.parquet").exists(),
      "the SET TBLPROPERTIES commit itself lands on the new interval")
    assert(new java.io.File(log, "00000000000000000030.checkpoint.parquet").exists())
    // 0 disables
    DeltaWrite.setProperties(spark, dir,
      Map("delta.checkpointInterval" -> "0")) // v31
    (32 to 45).foreach { i =>
      DeltaWrite.append(spark, Seq((i.toLong, s"x$i")).toDF("id", "v"), dir)
    }
    assert(!new java.io.File(log, "00000000000000000040.checkpoint.parquet").exists(),
      "interval 0 must disable the auto-checkpoint")
    assert(readAll() == ((0L to 24L) ++ (26L to 30L) ++ (32L to 45L)).toSet)
  }

  test("checkpointV2: sidecar layout round-trips, protocol merges features, txns survive truncation") {
    import graft.sources.DeltaWrite
    import graft.streaming.Streams
    val dir = freshDir("graft_delta_v2ckpt").toString
    // exactly-once txn marker + a DV delete BEFORE the v2 checkpoint:
    // the protocol upgrade must merge deletionVectors with v2Checkpoint
    assert(Streams.deltaSinkBatch(Seq((1L, "a"), (2L, "b"), (3L, "kill")).toDF("id", "v"),
      dir, "appV2", 0L))
    DeltaWrite.deleteWhereDV(spark, dir, col("v") === "kill")
    DeltaWrite.append(spark, Seq((4L, "d")).toDF("id", "v"), dir)
    DeltaWrite.checkpointV2(spark, dir)

    val log = new java.io.File(s"$dir/_delta_log")
    // layout: UUID-named top + one sidecar, no classic file
    val cpVersion = graft.sources.DeltaScan.latestVersion(spark, dir)
    val tops = log.listFiles().map(_.getName)
      .filter(_.matches(f"$cpVersion%020d\\.checkpoint\\.[a-f0-9-]+\\.parquet"))
    assert(tops.length == 1, s"expected one v2 top file, got ${tops.mkString(", ")}")
    assert(!new java.io.File(log, f"$cpVersion%020d.checkpoint.parquet").exists())
    assert(new java.io.File(log, "_sidecars").listFiles().count(_.getName.endsWith(".parquet")) == 1)
    // the top file carries NO add actions (they live in the sidecar)
    val topDf = spark.read.parquet(new java.io.File(log, tops.head).toString)
    assert(!topDf.columns.contains("add") || topDf.filter(col("add.path").isNotNull).count() == 0)
    assert(topDf.filter(col("checkpointMetadata.version").isNotNull).count() == 1)

    def readAll() = DeltaScan.read(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val expected = Set((1L, "a"), (2L, "b"), (4L, "d"))
    assert(readAll() == expected)

    // truncate the whole JSON tail: replay must come from the v2
    // checkpoint (protocol+meta+txn from top, adds from the sidecar)
    (0L to cpVersion).foreach { v =>
      new java.io.File(log, f"$v%020d.json").delete(); ()
    }
    assert(readAll() == expected)
    assert(DeltaWrite.lastTxnVersion(spark, dir, "appV2").contains(0L),
      "txn marker must survive v2 checkpoint truncation (exactly-once)")
    // DV capability gate survives too: CoW ops still refuse the table
    intercept[IllegalArgumentException] {
      DeltaWrite.compact(spark, dir, smallFileBytes = 1L << 20)
    }
    // appends continue on top
    DeltaWrite.append(spark, Seq((5L, "e")).toDF("id", "v"), dir)
    assert(readAll() == expected + ((5L, "e")))
    // INCREMENTAL: re-checkpointing the truncated log succeeds (builds
    // from the previous v2 checkpoint + the one-commit tail), and the
    // txn marker carried THROUGH a v2 checkpoint into the next one
    DeltaWrite.checkpointV2(spark, dir)
    val cpV2 = DeltaScan.latestVersion(spark, dir)
    new java.io.File(log, f"$cpV2%020d.json").delete()
    assert(readAll() == expected + ((5L, "e")))
    assert(DeltaWrite.lastTxnVersion(spark, dir, "appV2").contains(0L))

    // on an intact table, a second v2 checkpoint does NOT re-upgrade
    // the protocol (idempotent — no extra commit)
    val dir2 = freshDir("graft_delta_v2ckpt2").toString
    DeltaWrite.create(spark, Seq((1L, "x")).toDF("id", "v"), dir2)
    DeltaWrite.checkpointV2(spark, dir2)
    val vBefore = DeltaScan.latestVersion(spark, dir2)
    DeltaWrite.checkpointV2(spark, dir2)
    assert(DeltaScan.latestVersion(spark, dir2) == vBefore)
    assert(DeltaScan.read(spark, dir2).count() == 1L)
  }

  test("v2 checkpoint with a JSON top file reads (external-writer shape)") {
    import graft.sources.DeltaWrite
    val dir = freshDir("graft_delta_v2json").toString
    DeltaWrite.create(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir)
    DeltaWrite.checkpointV2(spark, dir)
    val log = new java.io.File(s"$dir/_delta_log")
    val cpVersion = DeltaScan.latestVersion(spark, dir)
    val top = log.listFiles().map(_.getName)
      .find(_.matches(f"$cpVersion%020d\\.checkpoint\\.[a-f0-9-]+\\.parquet")).get
    // convert the parquet top to JSON lines (same actions, .json name)
    val rows = spark.read.parquet(new java.io.File(log, top).toString)
      .toJSON.collect()
    val jsonName = top.stripSuffix(".parquet") + ".json"
    java.nio.file.Files.write(java.nio.file.Paths.get(log.toString, jsonName),
      rows.mkString("\n").getBytes("UTF-8"))
    assert(new java.io.File(log, top).delete())
    (0L to cpVersion).foreach { v =>
      new java.io.File(log, f"$v%020d.json").delete(); ()
    }
    val got = DeltaScan.read(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "a"), (2L, "b")))
  }

  test("DeltaWrite.compact: small files merge behind one dataChange=false commit") {
    import graft.sources.{DeltaScan, DeltaWrite}
    val dir = freshDir("graft_delta_compact").toString
    DeltaWrite.create(spark, Seq((1L, "a")).toDF("id", "v"), dir)
    (2L to 6L).foreach(i =>
      DeltaWrite.append(spark, Seq((i, s"v$i")).toDF("id", "v"), dir))
    val before = DeltaScan.read(spark, dir).as[(Long, String)].collect().toSet
    val vBefore = DeltaScan.latestVersion(spark, dir)
    DeltaWrite.compact(spark, dir, targetFiles = 1)
    // same rows, one commit later
    assert(DeltaScan.read(spark, dir).as[(Long, String)].collect().toSet == before)
    assert(DeltaScan.latestVersion(spark, dir) == vBefore + 1)
    // pre-compaction time travel still works (old files on disk)
    assert(DeltaScan.read(spark, dir, versionAsOf = Some(vBefore))
      .as[(Long, String)].collect().toSet == before)
    // appends continue cleanly on the compacted table
    DeltaWrite.append(spark, Seq((7L, "v7")).toDF("id", "v"), dir)
    assert(DeltaScan.read(spark, dir).count() == 7)
    // idempotent-ish: nothing to gain from a single live file + tail
    val v2 = DeltaScan.latestVersion(spark, dir)
    DeltaWrite.compact(spark, dir, targetFiles = 1)
    assert(DeltaScan.latestVersion(spark, dir) >= v2) // may compact the pair or skip
  }

  test("DeltaWrite.deleteWhere: copy-on-write delete — victims rewritten, rest untouched") {
    import graft.sources.DeltaWrite
    val dir = freshDir("graft_delta_del").toString
    // two commits → at least two files; ids 1-6 in c0, 7-9 in c1
    DeltaWrite.create(spark, (1L to 6L).map(i => (i, s"v$i")).toDF("id", "v"), dir)
    DeltaWrite.append(spark, (7L to 9L).map(i => (i, s"v$i")).toDF("id", "v"), dir)
    val filesBefore = DeltaScan.read(spark, dir)
      .select(col("_metadata.file_path")).distinct().collect().map(_.getString(0)).toSet

    val n = DeltaWrite.deleteWhere(spark, dir, col("id") % 3 === 0)
    assert(n == 3L) // 3, 6, 9
    val after = DeltaScan.read(spark, dir).select("id").collect().map(_.getLong(0)).toSet
    assert(after == Set(1L, 2L, 4L, 5L, 7L, 8L))
    // time travel to the pre-delete version still sees everything
    assert(DeltaScan.read(spark, dir, versionAsOf = Some(1L)).count() == 9L)
    // no-match delete commits nothing
    val vBefore = DeltaScan.latestVersion(spark, dir)
    assert(DeltaWrite.deleteWhere(spark, dir, col("id") === 999L) == 0L)
    assert(DeltaScan.latestVersion(spark, dir) == vBefore)
    // NULL cond keeps the row (SQL DELETE semantics)
    val dir2 = freshDir("graft_delta_del_null").toString
    DeltaWrite.create(spark,
      Seq((1L, Some("a")), (2L, scala.None), (3L, Some("kill")))
        .toDF("id", "v"), dir2)
    assert(DeltaWrite.deleteWhere(spark, dir2, col("v") === "kill") == 1L)
    assert(DeltaScan.read(spark, dir2).select("id").collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L), "NULL-cond row must survive")
    // sanity on the rewrite scope: deleted table still has >= 1 of the
    // original files only if it held no victim (here every file had one,
    // so all were rewritten — assert the victim files are gone from the scan)
    val filesAfter = DeltaScan.read(spark, dir)
      .select(col("_metadata.file_path")).distinct().collect().map(_.getString(0)).toSet
    assert(filesAfter.intersect(filesBefore).forall(f =>
      !DeltaScan.read(spark, dir).filter(col("_metadata.file_path") === f)
        .filter(col("id") % 3 === 0).head(1).nonEmpty))
  }

  test("DeltaWrite.deleteWhere on a hive-partitioned table, cond on partition + data cols") {
    import graft.sources.DeltaWrite
    val dir = freshDir("graft_delta_del_part").toString
    val df = Seq((1L, "x", "en"), (2L, "y", "de"), (3L, "z", "en"),
      (4L, "w", "de"), (5L, "q", "fr")).toDF("id", "v", "lang")
    DeltaWrite.create(spark, df, dir, partitionBy = Seq("lang"))
    val n = DeltaWrite.deleteWhere(spark, dir,
      col("lang") === "de" || col("id") === 5L)
    assert(n == 3L)
    val left = DeltaScan.read(spark, dir).select("id", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(left == Set((1L, "en"), (3L, "en")))
    // the fr partition's only file died entirely → no empty add remains
    assert(!new java.io.File(dir, "lang=fr").exists() ||
      new java.io.File(dir, "lang=fr").listFiles().forall(f =>
        !DeltaScan.read(spark, dir).select(col("_metadata.file_path"))
          .collect().map(_.getString(0)).exists(_.contains("lang=fr"))))
  }

  test("DeltaWrite.appendEvolve: new columns merge in, old rows read NULL, strict append follows the evolved schema") {
    import graft.sources.DeltaWrite
    val dir = freshDir("graft_delta_evolve").toString
    DeltaWrite.create(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir)
    // evolve: add a score column
    DeltaWrite.appendEvolve(spark,
      Seq((3L, "c", 0.5), (4L, "d", 0.7)).toDF("id", "v", "score"), dir)
    val rows = DeltaScan.read(spark, dir).select("id", "v", "score")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) scala.None else Some(r.getDouble(2)))).toSet
    assert(rows == Set((1L, "a", scala.None), (2L, "b", scala.None),
      (3L, "c", Some(0.5)), (4L, "d", Some(0.7))),
      "old files must resolve the evolved column to NULL")
    // strict append now validates against the EVOLVED schema
    assert(intercept[IllegalArgumentException] {
      DeltaWrite.append(spark, Seq((5L, "e")).toDF("id", "v"), dir)
    }.getMessage.contains("schema"))
    DeltaWrite.append(spark, Seq((5L, "e", 0.9)).toDF("id", "v", "score"), dir)
    assert(DeltaScan.read(spark, dir).count() == 5L)
    // evolve with a MISSING old column: rides as NULL
    DeltaWrite.appendEvolve(spark, Seq((6L, 1.0)).toDF("id", "score"), dir)
    assert(DeltaScan.read(spark, dir).filter(col("id") === 6L)
      .select("v").head().isNullAt(0))
    // type change is loud, never a coercion
    assert(intercept[IllegalArgumentException] {
      DeltaWrite.appendEvolve(spark, Seq((7, "x")).toDF("id", "v"), dir)
    }.getMessage.contains("never changes types"))
    // time travel to the pre-evolve version shows the original schema
    assert(DeltaScan.read(spark, dir, versionAsOf = Some(0L)).columns.toSeq ==
      Seq("id", "v"))
    // row-level ops honor the evolved schema (tableMeta is latest-wins):
    // score > 0.8 hits id=5 (0.9) and id=6 (1.0)
    assert(DeltaWrite.deleteWhere(spark, dir, col("score") > 0.8) == 2L)
    assert(DeltaScan.read(spark, dir).count() == 4L)
  }

  test("DeltaWrite.updateWhere: SET sees original values; partition-col SET is loud") {
    import graft.sources.DeltaWrite
    val dir = freshDir("graft_delta_upd").toString
    DeltaWrite.create(spark,
      Seq((1L, 10L, 20L, "en"), (2L, 30L, 40L, "de"), (3L, 50L, 60L, "en"))
        .toDF("id", "a", "b", "lang"), dir, partitionBy = Seq("lang"))
    // swap a and b where id < 3: both RHS must read PRE-update values
    val n = DeltaWrite.updateWhere(spark, dir, col("id") < 3,
      Seq("a" -> col("b"), "b" -> col("a")))
    assert(n == 2L)
    val rows = DeltaScan.read(spark, dir).select("id", "a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows == Set((1L, 20L, 10L), (2L, 40L, 30L), (3L, 50L, 60L)),
      "SET right-hand sides must see original row values (true swap)")
    // no-match: no commit
    val vB = DeltaScan.latestVersion(spark, dir)
    assert(DeltaWrite.updateWhere(spark, dir, col("id") === 99L,
      Seq("a" -> lit(0L))) == 0L)
    assert(DeltaScan.latestVersion(spark, dir) == vB)
    // partition-column SET is loud
    assert(intercept[IllegalArgumentException] {
      DeltaWrite.updateWhere(spark, dir, col("id") === 1L,
        Seq("lang" -> lit("fr")))
    }.getMessage.contains("partition column"))
    // type-changing SET is loud (bigint column widened to double by
    // coercion → the schema-preservation guard fires)
    assert(intercept[IllegalArgumentException] {
      DeltaWrite.updateWhere(spark, dir, col("id") === 1L,
        Seq("a" -> lit(1.5)))
    }.getMessage.contains("schema"))
    // time travel pre-update intact
    assert(DeltaScan.read(spark, dir, versionAsOf = Some(0L))
      .filter(col("a") === 10L).count() == 1L)
  }

  test("DeltaWrite.merge: upsert by key — matched rows replaced, unmatched inserted") {
    import graft.sources.DeltaWrite
    val dir = freshDir("graft_delta_merge").toString
    DeltaWrite.create(spark,
      Seq((1L, "old1"), (2L, "old2"), (3L, "old3")).toDF("id", "v"), dir)
    DeltaWrite.append(spark, Seq((4L, "old4")).toDF("id", "v"), dir)
    val source = Seq((2L, "NEW2"), (4L, "NEW4"), (9L, "NEW9")).toDF("id", "v")
    val (updated, inserted) = DeltaWrite.merge(spark, dir, source, Seq("id"))
    assert(updated == 2L && inserted == 1L)
    val rows = DeltaScan.read(spark, dir).select("id", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows == Set((1L, "old1"), (2L, "NEW2"), (3L, "old3"),
      (4L, "NEW4"), (9L, "NEW9")))
    // time travel pre-merge intact
    assert(DeltaScan.read(spark, dir, versionAsOf = Some(1L))
      .filter(col("v") === "old2").count() == 1L)
    // duplicate source keys are loud
    assert(intercept[IllegalArgumentException] {
      DeltaWrite.merge(spark, dir,
        Seq((5L, "a"), (5L, "b")).toDF("id", "v"), Seq("id"))
    }.getMessage.contains("duplicate"))
    // schema drift is loud
    assert(intercept[IllegalArgumentException] {
      DeltaWrite.merge(spark, dir, Seq((5, "a")).toDF("id", "v"), Seq("id"))
    }.getMessage.contains("schema"))
    // empty source: no-op, no commit
    val vB = DeltaScan.latestVersion(spark, dir)
    assert(DeltaWrite.merge(spark, dir,
      Seq.empty[(Long, String)].toDF("id", "v"), Seq("id")) == ((0L, 0L)))
    assert(DeltaScan.latestVersion(spark, dir) == vB)
  }

  test("DeltaWrite.merge on a hive-partitioned table moves rows across partitions") {
    import graft.sources.DeltaWrite
    val dir = freshDir("graft_delta_merge_part").toString
    DeltaWrite.create(spark,
      Seq((1L, "x", "en"), (2L, "y", "de")).toDF("id", "v", "lang"),
      dir, partitionBy = Seq("lang"))
    // id=2 moves de → fr; id=7 inserts into a brand-new partition
    val source = Seq((2L, "y2", "fr"), (7L, "n", "it")).toDF("id", "v", "lang")
    val (u, i) = DeltaWrite.merge(spark, dir, source, Seq("id"))
    assert(u == 1L && i == 1L)
    val rows = DeltaScan.read(spark, dir).select("id", "v", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(rows == Set((1L, "x", "en"), (2L, "y2", "fr"), (7L, "n", "it")))
    // partition pruning still works on the merged table
    assert(DeltaScan.read(spark, dir).filter(col("lang") === "fr").count() == 1L)
  }

  test("DV encode/decode round-trips every container shape") {
    import graft.sources.DeletionVectors
    val cases: Seq[Array[Long]] = Seq(
      Array.empty[Long],
      Array(0L),
      Array(1L, 5L, 65535L),                       // one array container
      (0L until 5000L).toArray,                    // bitset container (>4096)
      Array(3L, 70000L, 140000L),                  // multiple containers
      (0L until 100L).map(_ * 97L).toArray ++      // mixed + high-32-bit keys
        Array((1L << 32) | 7L, (1L << 32) | 9L, (3L << 32) | 2L))
    cases.foreach { ps =>
      val enc = DeletionVectors.encode(ps)
      val dec = DeletionVectors.decode(enc, enc.length)
      assert(dec.toSeq == ps.toSeq, s"round trip failed for ${ps.take(5).toSeq}...")
    }
  }

  test("deleteWhereDV: merge-on-read delete — no rewrite, DV union, protocol upgrade") {
    import graft.sources.{DeltaWrite, DeletionVectors}
    val dir = freshDir("graft_delta_dv").toString
    DeltaWrite.create(spark, (1L to 6L).map(i => (i, s"v$i")).toDF("id", "v"), dir)
    DeltaWrite.append(spark, (7L to 9L).map(i => (i, s"v$i")).toDF("id", "v"), dir)
    val parquetsBefore = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet

    val n = DeltaWrite.deleteWhereDV(spark, dir, col("id") % 3 === 0)
    assert(n == 3L) // 3, 6, 9
    assert(DeltaScan.read(spark, dir).select("id").collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L, 4L, 5L, 7L, 8L))
    // merge-on-read: the data files are EXACTLY the ones written before
    val parquetsAfter = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    assert(parquetsAfter == parquetsBefore, "a DV delete must not rewrite data files")
    assert(new java.io.File(dir).listFiles()
      .exists(_.getName.startsWith("deletion_vector_")), "DV bin file expected")
    // time travel to the pre-delete version still sees everything
    assert(DeltaScan.read(spark, dir, versionAsOf = Some(1L)).count() == 9L)

    // overlapping second delete: already-dead rows not re-counted; DVs union
    assert(DeltaWrite.deleteWhereDV(spark, dir, col("id") >= 5L) == 3L) // 5, 7, 8 (6, 9 dead)
    assert(DeltaScan.read(spark, dir).select("id").collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L, 4L))
    // no-match: no commit
    val vB = DeltaScan.latestVersion(spark, dir)
    assert(DeltaWrite.deleteWhereDV(spark, dir, col("id") === 99L) == 0L)
    assert(DeltaScan.latestVersion(spark, dir) == vB)

    // the copy-on-write ops refuse DV tables loudly (a rewrite would
    // resurrect deleted rows)
    assert(intercept[IllegalArgumentException] {
      DeltaWrite.deleteWhere(spark, dir, col("id") === 1L)
    }.getMessage.contains("deletion vectors"))
    assert(intercept[IllegalArgumentException] {
      DeltaWrite.compact(spark, dir, smallFileBytes = 1L << 20)
    }.getMessage.contains("deletion vectors"))

    // appends still work; checkpoint carries the DVs + feature protocol
    DeltaWrite.append(spark, Seq((10L, "v10")).toDF("id", "v"), dir)
    DeltaWrite.checkpoint(spark, dir)
    assert(DeltaScan.read(spark, dir).select("id").collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L, 4L, 10L), "DVs and protocol must survive checkpointing")
  }

  test("updateWhereDV / mergeDV: merge-on-read DML — DVs kill the old rows, images append, no rewrite") {
    import graft.sources.{DeltaScan, DeltaWrite}
    val dir = freshDir("graft_delta_dvdml").toString
    DeltaWrite.create(spark, (1L to 6L).map(i => (i, s"v$i")).toDF("id", "v"), dir)
    val parquetsBefore = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet

    // DV UPDATE: matched rows die via DV, images land as new files
    val n = DeltaWrite.updateWhereDV(spark, dir, col("id") % 2 === 0,
      Seq("v" -> concat(lit("U:"), col("v"))))
    assert(n == 3L)
    assert(DeltaScan.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap ==
      (1L to 6L).map(i => i -> (if (i % 2 == 0) s"U:v$i" else s"v$i")).toMap)
    val parquetsAfter = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    assert(parquetsBefore.subsetOf(parquetsAfter) &&
      parquetsAfter.size > parquetsBefore.size,
      "a DV update must keep every original data file and only append images")
    // time travel to the pre-update version sees the originals
    assert(DeltaScan.read(spark, dir, versionAsOf = Some(0L))
      .filter(col("v").startsWith("U:")).count() == 0L)

    // stacking: a second DV update hits an image row (in a NEW file)
    assert(DeltaWrite.updateWhereDV(spark, dir, col("id") === 2L,
      Seq("v" -> lit("final"))) == 1L)
    assert(DeltaScan.read(spark, dir).filter(col("id") === 2L)
      .head().getString(1) == "final")
    // no-match commits nothing
    val vB = DeltaScan.latestVersion(spark, dir)
    assert(DeltaWrite.updateWhereDV(spark, dir, col("id") === 99L,
      Seq("v" -> lit("x"))) == 0L)
    assert(DeltaScan.latestVersion(spark, dir) == vB)
    // partition columns stay un-assignable, schema drift stays loud
    assert(intercept[IllegalArgumentException] {
      DeltaWrite.updateWhereDV(spark, dir, col("id") === 1L,
        Seq("v" -> col("id"))) // long into a string column
    }.getMessage.contains("preserve"))

    // DV MERGE: matched keys die via DV, ALL source rows append
    val (u, ins) = DeltaWrite.mergeDV(spark, dir,
      Seq((3L, "M3"), (9L, "M9")).toDF("id", "v"), Seq("id"))
    assert(u == 1L && ins == 1L, s"got ($u, $ins)")
    val got = DeltaScan.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got(3L) == "M3" && got(9L) == "M9" && got(1L) == "v1" &&
      got(2L) == "final" && got.size == 7)
    // the CDC snapshot diff sees the merge as its delete+insert pair
    val diff = DeltaScan.changesBetween(spark, dir, vB, vB + 1).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(diff == Set((3L, "v3", "delete"), (3L, "M3", "insert"),
      (9L, "M9", "insert")), s"wrong diff: $diff")

    // a DV-merge into a PARTITIONED table relocates a row across
    // partitions (old row DV'd in lang=en, image appended under lang=fr)
    val p = freshDir("graft_delta_dvdml_p").toString
    DeltaWrite.create(spark,
      Seq((1L, "en", "t1"), (2L, "en", "t2")).toDF("id", "lang", "text"),
      p, partitionBy = Seq("lang"))
    val (u2, i2) = DeltaWrite.mergeDV(spark, p,
      Seq((2L, "fr", "t2moved")).toDF("id", "lang", "text"), Seq("id"))
    assert(u2 == 1L && i2 == 0L)
    assert(DeltaScan.read(spark, p).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "en"), (2L, "fr")))
  }

  test("purge materializes deletion vectors: DVs cleared, CoW ops re-enabled, streams skip the commit") {
    import graft.sources.{DeltaScan, DeltaWrite}
    val dir = freshDir("graft_delta_purge").toString
    DeltaWrite.create(spark, (1L to 8L).map(i => (i, s"v$i")).toDF("id", "v"), dir)
    DeltaWrite.deleteWhereDV(spark, dir, col("id") % 2 === 0)
    DeltaWrite.updateWhereDV(spark, dir, col("id") === 3L, Seq("v" -> lit("U3")))
    val expected = Map(1L -> "v1", 3L -> "U3", 5L -> "v5", 7L -> "v7")
    assert(DeltaScan.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap == expected)
    // CoW ops refuse while DVs are live
    assert(intercept[IllegalArgumentException] {
      DeltaWrite.compact(spark, dir, smallFileBytes = 1L << 20)
    }.getMessage.contains("purge"))

    val (files, dead) = DeltaWrite.purge(spark, dir)
    assert(files > 0 && dead == 5L, s"got ($files, $dead)") // 4 deleted + 1 updated
    // the logical view is unchanged...
    assert(DeltaScan.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap == expected)
    // ...no live DV remains, CoW ops and compact work again
    DeltaWrite.compact(spark, dir, smallFileBytes = 1L << 30)
    assert(DeltaWrite.deleteWhere(spark, dir, col("id") === 7L) == 1L)
    assert(DeltaScan.read(spark, dir).count() == 3L)
    // ...and CDC across the purge commit sees NO row change
    val vPre = 2L // version before purge (create=0, dvdelete=1, dvupdate=2)
    assert(DeltaScan.changesBetween(spark, dir, vPre, vPre + 1).count() == 0L,
      "a purge commit is row-preserving — the snapshot diff must be empty")
    // idempotent
    assert(DeltaWrite.purge(spark, dir) == ((0, 0L)))
    // vacuum reclaims the pre-purge parquet and the superseded DV bins
    val reclaimed = DeltaWrite.vacuum(spark, dir, retainMs = 0L)
    assert(reclaimed.exists(_.contains("deletion_vector_")),
      s"vacuum after purge must reclaim the DV bins, got $reclaimed")
    assert(DeltaScan.read(spark, dir).count() == 3L)

    // a running stream survives a purge commit (dataChange=false skip)
    // — rows are never re-emitted. The stream starts AFTER the DV era
    // (a DV re-add inside the offset range is a loud refusal by design)
    val sDir = freshDir("graft_delta_purge_s").toString
    DeltaWrite.create(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), sDir)
    DeltaWrite.deleteWhereDV(spark, sDir, col("id") === 2L)
    DeltaWrite.purge(spark, sDir)
    // range starts AT the purge commit: its dataChange=false removes
    // and DV-free adds must be skipped, not refused and not emitted
    val vPurge = DeltaScan.latestVersion(spark, sDir)
    val delivered2 = scala.collection.mutable.ListBuffer[Long]()
    val q2 = spark.readStream
      .format(classOf[graft.streaming.DeltaStreamProvider].getName)
      .option("startingVersion", vPurge.toString).load(sDir)
      .writeStream
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_purge_ck2").toString)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        delivered2.synchronized { delivered2 ++= b.collect().map(_.getLong(0)) }
        ()
      }.start()
    try {
      DeltaWrite.append(spark, Seq((9L, "i")).toDF("id", "v"), sDir)
      DeltaWrite.append(spark, Seq((10L, "j")).toDF("id", "v"), sDir)
      q2.processAllAvailable()
      assert(delivered2.synchronized(delivered2.toSet) == Set(9L, 10L),
        s"stream across purge must deliver exactly the appends, got $delivered2")
    } finally q2.stop()
  }

  test("vacuum reclaims superseded DV bins; the live DV never") {
    import graft.sources.{DeltaWrite, DeltaScan}
    val dir = freshDir("graft_delta_dv_vac").toString
    DeltaWrite.create(spark,
      (1L to 6L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1), dir)
    DeltaWrite.deleteWhereDV(spark, dir, col("id") === 2L)
    DeltaWrite.deleteWhereDV(spark, dir, col("id") === 4L) // supersedes the first DV
    def bins = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("deletion_vector_")).map(_.getName).toSet
    assert(bins.size == 2)
    val doomed = DeltaWrite.vacuum(spark, dir, retainMs = 0L)
    assert(doomed.count(_.startsWith("deletion_vector_")) == 1,
      s"exactly the superseded DV should reclaim, got $doomed")
    assert(bins.size == 1, "the live DV bin must survive")
    // and the table still reads correctly through the surviving DV
    assert(DeltaScan.read(spark, dir).select("id").collect().map(_.getLong(0)).toSet ==
      Set(1L, 3L, 5L, 6L))
    // a fresh dry run reports nothing left
    assert(DeltaWrite.vacuum(spark, dir, retainMs = 0L, dryRun = true)
      .count(_.startsWith("deletion_vector_")) == 0)
  }

  test("DeltaWrite.restore: files and schema roll back as a new commit; vacuumed target is loud") {
    import graft.sources.DeltaWrite
    val dir = freshDir("graft_delta_restore").toString
    DeltaWrite.create(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir)    // v0
    DeltaWrite.deleteWhere(spark, dir, col("id") === 2L)                        // v1
    DeltaWrite.appendEvolve(spark, Seq((3L, "c", 1.5)).toDF("id", "v", "s"), dir) // v2: evolved
    assert(DeltaScan.read(spark, dir).columns.toSeq == Seq("id", "v", "s"))
    val (added, removed) = DeltaWrite.restore(spark, dir, 0L)
    assert(added >= 1 && removed >= 1, s"expected file churn, got ($added, $removed)")
    // data back to v0, schema back to v0, history intact
    assert(DeltaScan.read(spark, dir).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((1L, "a"), (2L, "b")))
    assert(DeltaScan.read(spark, dir).columns.toSeq == Seq("id", "v"),
      "restore must re-declare the pre-evolution schema")
    assert(DeltaScan.read(spark, dir, versionAsOf = Some(2L)).count() == 2L,
      "in-between versions stay time-travelable")
    // restoring to the current state is a no-op
    val vNow = DeltaScan.latestVersion(spark, dir)
    assert(DeltaWrite.restore(spark, dir, vNow) == ((0, 0)))
    assert(DeltaScan.latestVersion(spark, dir) == vNow)
    // a vacuumed-away target fails loudly: physically delete a file
    // that only version 1..2 reference, then try restoring to 2
    val victims = DeltaScan.read(spark, dir, versionAsOf = Some(2L))
      .select(col("_metadata.file_path")).distinct().collect().map(_.getString(0))
    val nowFiles = DeltaScan.read(spark, dir)
      .select(col("_metadata.file_path")).distinct().collect().map(_.getString(0)).toSet
    val gone = victims.filterNot(nowFiles.contains)
    assert(gone.nonEmpty)
    gone.foreach(p => new java.io.File(new java.net.URI(p).getPath).delete())
    assert(intercept[IllegalArgumentException] {
      DeltaWrite.restore(spark, dir, 2L)
    }.getMessage.contains("vacuumed"))
  }

  test("DeltaWrite.vacuum: removed files delete after retention; live files never") {
    import graft.sources.{DeltaScan, DeltaWrite}
    val dir = freshDir("graft_delta_vacuum").toString
    DeltaWrite.create(spark, Seq((1L, "a")).toDF("id", "v"), dir)
    (2L to 4L).foreach(i =>
      DeltaWrite.append(spark, Seq((i, s"v$i")).toDF("id", "v"), dir))
    val before = DeltaScan.read(spark, dir).as[(Long, String)].collect().toSet
    DeltaWrite.compact(spark, dir, targetFiles = 1)
    // within retention: nothing deleted
    assert(DeltaWrite.vacuum(spark, dir).isEmpty)
    // dry run past retention lists but keeps
    val would = DeltaWrite.vacuum(spark, dir, retainMs = 0L, dryRun = true)
    assert(would.nonEmpty)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    would.foreach(rel => assert(
      fs.exists(new org.apache.hadoop.fs.Path(dir, rel)), s"dryRun deleted $rel"))
    // real vacuum: removed files go, current snapshot intact
    val gone = DeltaWrite.vacuum(spark, dir, retainMs = 0L)
    assert(gone.toSet == would.toSet)
    gone.foreach(rel => assert(
      !fs.exists(new org.apache.hadoop.fs.Path(dir, rel)), s"vacuum kept $rel"))
    assert(DeltaScan.read(spark, dir).as[(Long, String)].collect().toSet == before)
    // vacuum is idempotent
    assert(DeltaWrite.vacuum(spark, dir, retainMs = 0L).isEmpty)
  }

  test("special-char partition values survive write/read/compact/vacuum (hive-escaped dirs)") {
    import graft.sources.{DeltaScan, DeltaWrite}
    // ':' and '%' hive-escape in directory names (ts=10%3A00); the log
    // must round-trip the ON-DISK name exactly — writer percent-encodes
    // action paths (spec), reader decodes, so escapes compose
    val dir = freshDir("graft_delta_specialpart").toString
    val df0 = Seq((1L, "10:00"), (2L, "90%"), (3L, "plain"), (4L, "10:00"))
      .toDF("id", "slot")
    DeltaWrite.create(spark, df0, dir, partitionBy = Seq("slot"))
    DeltaWrite.append(spark, Seq((5L, "90%")).toDF("id", "slot"), dir,
      partitionBy = Seq("slot"))
    def all() = DeltaScan.read(spark, dir).select("id", "slot")
      .as[(Long, String)].collect().toSet
    val expect = Set((1L, "10:00"), (2L, "90%"), (3L, "plain"), (4L, "10:00"), (5L, "90%"))
    assert(all() == expect)
    // partition pruning on the escaped value still works
    assert(DeltaScan.read(spark, dir).filter(col("slot") === "10:00").count() == 2)
    // compact rewrites the escaped dirs without losing/mangling names
    DeltaWrite.compact(spark, dir, targetFiles = 1)
    assert(all() == expect)
    // vacuum must not touch any LIVE file in the escaped dirs
    DeltaWrite.vacuum(spark, dir, retainMs = 0L)
    assert(all() == expect)
    // zorder path shares the rewrite machinery
    DeltaWrite.zorder(spark, dir, Seq("id"), bitsPerCol = 8)
    assert(all() == expect)
    // row-level DML's victim location (_metadata-derived rel paths)
    // must agree with the log's decoded namespace in the ESCAPED dirs:
    // a mismatch would remove the wrong path or rewrite nothing
    assert(DeltaWrite.deleteWhere(spark, dir, col("id") === 4L) == 1L)
    assert(all() == expect - ((4L, "10:00")))
    assert(DeltaWrite.updateWhere(spark, dir, col("id") === 2L,
      Seq("id" -> lit(20L))) == 1L)
    assert(all() == Set((1L, "10:00"), (20L, "90%"), (3L, "plain"), (5L, "90%")))
    val (u, i) = DeltaWrite.merge(spark, dir,
      Seq((3L, "moved"), (6L, "10:00")).toDF("id", "slot"), Seq("id"))
    assert((u, i) == ((1L, 1L)))
    assert(all() == Set((1L, "10:00"), (20L, "90%"), (3L, "moved"),
      (5L, "90%"), (6L, "10:00")))
    // merge-on-read DV delete in the escaped dirs: the descriptor key
    // and the reader's anti-join must share the URI namespace, or the
    // DV is silently unapplied and the row resurrects
    assert(DeltaWrite.deleteWhereDV(spark, dir, col("id") === 5L) == 1L)
    assert(all() == Set((1L, "10:00"), (20L, "90%"), (3L, "moved"), (6L, "10:00")))
  }

  test("a null configuration value stays null when the writer re-declares the metaData") {
    import graft.sources.DeltaWrite
    val dir = freshDir("graft_delta_nullconf")
    val s0 = writeDataFile(Seq((1L, "a")).toDF("id", "v"), dir, "f0.parquet")
    writeCommit(dir, 0, Seq(protoAction, metaAction(conf = """{"x":null}"""),
      addAction("f0.parquet", s0)))
    DeltaWrite.setProperties(spark, dir.toString, Map("y" -> "1"))
    assert(DeltaScan.liveState(spark, dir.toString).conf == Map("x" -> null, "y" -> "1"))
  }

  test("vacuum never deletes a live file whose log path is percent-encoded") {
    import graft.sources.{DeltaScan, DeltaWrite}
    // spec-compliant EXTERNAL writer: on-disk name has a space, the
    // add action percent-encodes it — an encoded live file must not
    // look untracked to orphan collection (that would be data loss)
    val dir = freshDir("graft_delta_vac_enc")
    val s0 = writeDataFile(Seq((1L, "a")).toDF("id", "v"), dir, "part a.parquet")
    writeCommit(dir, 0, Seq(protoAction, metaAction(),
      s"""{"add":{"path":"part%20a.parquet","partitionValues":{},"size":$s0,""" +
        """"modificationTime":1700000000000,"dataChange":true}}"""))
    assert(DeltaScan.read(spark, dir.toString).count() == 1)
    val gone = DeltaWrite.vacuum(spark, dir.toString, retainMs = 0L)
    assert(gone.isEmpty, s"vacuum claimed live encoded-path files: $gone")
    assert(DeltaScan.read(spark, dir.toString).count() == 1)
  }

  test("percentDecode: RFC 3986 semantics — '+' literal, %XX decodes, malformed passes raw") {
    import graft.sources.DeltaScan.percentDecode
    assert(percentDecode("a+b.parquet") == "a+b.parquet") // form-decode would say "a b"
    assert(percentDecode("part%20a.parquet") == "part a.parquet")
    assert(percentDecode("x%2By.parquet") == "x+y.parquet")
    assert(percentDecode("ts=10%3A00/f.parquet") == "ts=10:00/f.parquet")
    assert(percentDecode("caf%C3%A9.parquet") == "café.parquet") // multi-byte UTF-8
    assert(percentDecode("plain.parquet") == "plain.parquet")
    // malformed escapes degrade to the raw string, never throw
    assert(percentDecode("bad%G1.parquet") == "bad%G1.parquet")
    assert(percentDecode("trunc%2") == "trunc%2")
    assert(percentDecode("lone%") == "lone%")
  }

  test("vacuum never form-decodes: a live file with literal '+' survives (delta-spark logs '+' raw)") {
    import graft.sources.{DeltaScan, DeltaWrite}
    val dir = freshDir("graft_delta_vac_plus")
    // external writers (delta-spark) leave '+' UNencoded in action
    // paths; form-decoding would track "a b.parquet" while the disk
    // holds "a+b.parquet" — orphan collection would delete live data
    val s0 = writeDataFile(Seq((1L, "a")).toDF("id", "v"), dir, "a+b.parquet")
    writeCommit(dir, 0, Seq(protoAction, metaAction(), addAction("a+b.parquet", s0)))
    assert(DeltaScan.read(spark, dir.toString).count() == 1)
    val gone = DeltaWrite.vacuum(spark, dir.toString, retainMs = 0L)
    assert(gone.isEmpty, s"vacuum claimed the live '+' file: $gone")
    assert(DeltaScan.read(spark, dir.toString).count() == 1)
  }

  test("vacuum excludes on-disk files whose RAW or re-encoded name is logged (legacy raw-escape logs)") {
    import graft.sources.DeltaWrite
    val dir = freshDir("graft_delta_vac_rawhive")
    // a legacy (pre-encoding) writer logged the on-disk hive-escaped
    // name RAW: 'ts=10%3A00/f.parquet'. Decoding yields
    // 'ts=10:00/f.parquet' which matches nothing on disk — only the
    // raw-name exclusion keeps orphan collection from deleting the
    // live file
    val s0 = writeDataFile(Seq((1L, "a")).toDF("id", "v"), dir, "ts=10%3A00/f.parquet")
    writeCommit(dir, 0, Seq(protoAction,
      metaAction(partCols = """["ts"]"""),
      s"""{"add":{"path":"ts=10%3A00/f.parquet","partitionValues":{"ts":"10:00"},""" +
        s""""size":$s0,"modificationTime":1700000000000,"dataChange":true}}"""))
    val gone = DeltaWrite.vacuum(spark, dir.toString, retainMs = 0L)
    assert(gone.isEmpty, s"vacuum claimed the raw-logged live file: $gone")
    assert(Files.exists(dir.resolve("ts=10%3A00/f.parquet")),
      "live file with raw-logged hive escape was deleted")
  }

  test("vacuum reclaims crashed writers' stale .staging-* dirs, keeps fresh ones") {
    import graft.sources.DeltaWrite
    val dir = freshDir("graft_delta_vac_staging").toString
    DeltaWrite.create(spark, Seq((1L, "a")).toDF("id", "v"), dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stale = new org.apache.hadoop.fs.Path(dir, ".staging-deadbeef0000")
    fs.mkdirs(stale)
    fs.create(new org.apache.hadoop.fs.Path(stale, "part-0.parquet"), true).close()
    fs.setTimes(stale, 1000L, -1) // crashed long ago
    val live = new org.apache.hadoop.fs.Path(dir, ".staging-cafebabe0000")
    fs.mkdirs(live) // a writer mid-flight right now
    DeltaWrite.vacuum(spark, dir, retainMs = 60L * 1000L)
    assert(!fs.exists(stale), "stale staging dir not reclaimed")
    assert(fs.exists(live), "in-flight staging dir must survive")
    // dryRun touches nothing
    fs.mkdirs(stale)
    fs.setTimes(stale, 1000L, -1)
    DeltaWrite.vacuum(spark, dir, retainMs = 60L * 1000L, dryRun = true)
    assert(fs.exists(stale))
  }

  test("DeltaWrite.compact groups by partition and keeps partitionValues truthful") {
    import graft.sources.{DeltaScan, DeltaWrite}
    val dir = freshDir("graft_delta_compact_part").toString
    DeltaWrite.create(spark, Seq((1L, "a", "p1"), (2L, "b", "p2")).toDF("id", "v", "p"),
      dir, partitionBy = Seq("p"))
    (3L to 6L).foreach(i => DeltaWrite.append(spark,
      Seq((i, s"v$i", if (i % 2 == 0) "p2" else "p1")).toDF("id", "v", "p"),
      dir, partitionBy = Seq("p")))
    val before = DeltaScan.read(spark, dir).select("id", "v", "p")
      .as[(Long, String, String)].collect().toSet
    DeltaWrite.compact(spark, dir, targetFiles = 1)
    val after = DeltaScan.read(spark, dir)
    assert(after.select("id", "v", "p").as[(Long, String, String)]
      .collect().toSet == before)
    // partition pruning still works on the compacted files
    assert(after.filter(col("p") === "p1").count() == 3)
    // appends continue; a second compact is safe
    DeltaWrite.append(spark, Seq((7L, "v7", "p1")).toDF("id", "v", "p"),
      dir, partitionBy = Seq("p"))
    DeltaWrite.compact(spark, dir, targetFiles = 1)
    assert(DeltaScan.read(spark, dir).count() == 7)
  }

  test("Tidier.read(format=delta) falls back to the built-in reader without a connector") {
    val dir = freshDir("graft_delta_tidier")
    val s0 = writeDataFile(Seq((7L, "z")).toDF("id", "v"), dir, "f0.parquet")
    writeCommit(dir, 0, Seq(protoAction, metaAction(), addAction("f0.parquet", s0)))
    val out = Tidier.read(spark, dir.toString, "delta").df
      .as[(Long, String)].collect().toSeq
    assert(out == Seq((7L, "z")))
  }

  test("renameColumn/dropColumn: zero data movement, mapped reads exact, physical names pinned") {
    import graft.sources.{DeltaScan, DeltaWrite}
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_delta_rename").toString + "/t"
    DeltaWrite.create(spark, Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "tag", "score"), dir)
    DeltaWrite.append(spark, Seq((3L, "c", 30L)).toDF("id", "tag", "score"), dir)
    def dataFiles(): Set[String] = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .iterator().asScala.map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSet
    val before = dataFiles()

    // rename: pure metadata — NOT ONE data file changes
    DeltaWrite.renameColumn(spark, dir, "tag", "label")
    assert(dataFiles() == before, "rename must move zero data")
    assert(DeltaScan.read(spark, dir).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq ==
      Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L)))
    assert(DeltaScan.read(spark, dir).columns.toSeq == Seq("id", "label", "score"))
    // time travel BEFORE the rename still shows the old logical name
    assert(DeltaScan.read(spark, dir, versionAsOf = Some(1L)).columns.toSeq ==
      Seq("id", "tag", "score"))

    // appends keep working with the NEW logical name, and the parquet
    // they write carries the PHYSICAL (original) name
    DeltaWrite.append(spark, Seq((4L, "d", 40L)).toDF("id", "label", "score"), dir)
    val newFile = (dataFiles() -- before).head
    val raw = spark.read.parquet(s"$dir/$newFile")
    assert(raw.columns.contains("tag") && !raw.columns.contains("label"),
      s"mapped append must write physical names, got ${raw.columns.toSeq}")
    assert(DeltaScan.read(spark, dir).count() == 4L)

    // drop: metadata-only again
    val mid = dataFiles()
    DeltaWrite.dropColumn(spark, dir, "score")
    assert(dataFiles() == mid, "drop must move zero data")
    assert(DeltaScan.read(spark, dir).columns.toSeq == Seq("id", "label"))

    // re-adding the dropped LOGICAL name gets a FRESH physical column:
    // the old score bytes can never resurface
    DeltaWrite.appendEvolve(spark, Seq((5L, "e", 999L)).toDF("id", "label", "score"), dir)
    val got = DeltaScan.read(spark, dir).orderBy("id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
    assert(got == Seq((1L, -1L), (2L, -1L), (3L, -1L), (4L, -1L), (5L, 999L)),
      s"old physical score must NOT resurface, got $got")

    // guard rails
    intercept[IllegalArgumentException](DeltaWrite.renameColumn(spark, dir, "id", "label"))
    intercept[IllegalArgumentException](DeltaWrite.renameColumn(spark, dir, "nope", "x"))
  }

  test("CoW DML on a column-mapped table: update/delete/merge/DV/compact/zorder over renamed columns") {
    import graft.sources.{DeltaScan, DeltaWrite}
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_delta_map_dml").toString + "/t"
    DeltaWrite.create(spark,
      (1L to 20L).map(i => (i, s"t${i % 3}", i * 10L)).toDF("id", "tag", "score"), dir)
    DeltaWrite.renameColumn(spark, dir, "score", "points")
    DeltaWrite.renameColumn(spark, dir, "tag", "label")

    // UPDATE over the renamed column (RHS reads originals)
    assert(DeltaWrite.updateWhere(spark, dir, col("points") > 150L,
      Seq("points" -> (col("points") + 1L))) == 5L)
    // CoW DELETE over the renamed column
    assert(DeltaWrite.deleteWhere(spark, dir, col("label") === "t0") == 6L)
    // MERGE: upsert by id — one update, one insert (logical schema)
    val (u, i) = DeltaWrite.merge(spark, dir,
      Seq((1L, "tX", 111L), (99L, "tY", 999L)).toDF("id", "label", "points"), Seq("id"))
    assert((u, i) == (1L, 1L))
    // compact + zorder on the mapped table (logical dims)
    DeltaWrite.compact(spark, dir, smallFileBytes = 1L << 20, targetFiles = 1)
    DeltaWrite.zorder(spark, dir, Seq("points"), bitsPerCol = 8, targetFiles = 2)
    // DV delete over renamed columns
    assert(DeltaWrite.deleteWhereDV(spark, dir, col("id") === 99L) == 1L)

    val model = (1L to 20L).map(i => (i, s"t${i % 3}", i * 10L))
      .map { case (id, t, sc) => (id, t, if (sc > 150L) sc + 1L else sc) }
      .filterNot(_._2 == "t0")
      .map { case (id, t, sc) => if (id == 1L) (1L, "tX", 111L) else (id, t, sc) }
    val got = DeltaScan.read(spark, dir).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == model.sortBy(_._1), s"mapped DML diverged:\n$got\nvs\n${model.sortBy(_._1)}")
    // the final files on disk still carry PHYSICAL names
    val aFile = java.nio.file.Files.list(java.nio.file.Paths.get(dir)).iterator().asScala
      .map(_.toString).filter(_.endsWith(".parquet")).toSeq.head
    val rawCols = spark.read.parquet(aFile).columns.toSet
    assert(rawCols.contains("score") && rawCols.contains("tag") &&
      !rawCols.contains("points") && !rawCols.contains("label"),
      s"rewrites must keep physical names, got $rawCols")
  }

  test("mapped + partitioned: merge and delete keep the physical hive layout") {
    import graft.sources.{DeltaScan, DeltaWrite}
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_delta_map_part").toString + "/t"
    DeltaWrite.create(spark,
      Seq((1L, "en", 10L), (2L, "de", 20L), (3L, "en", 30L)).toDF("id", "lang", "n"),
      dir, partitionBy = Seq("lang"))
    DeltaWrite.renameColumn(spark, dir, "n", "cnt")
    // CoW delete inside one partition
    assert(DeltaWrite.deleteWhere(spark, dir, col("cnt") === 10L) == 1L)
    // merge moves id=2 de→fr and inserts id=7
    val (u, i) = DeltaWrite.merge(spark, dir,
      Seq((2L, "fr", 99L), (7L, "en", 70L)).toDF("id", "lang", "cnt"), Seq("id"))
    assert((u, i) == (1L, 1L))
    assert(DeltaScan.read(spark, dir).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq ==
      Seq((2L, "fr", 99L), (3L, "en", 30L), (7L, "en", 70L)))
    // partition dirs use the PHYSICAL lang name (it was never renamed —
    // but the layout must still be lang=<v> hive dirs)
    val dirs = java.nio.file.Files.list(java.nio.file.Paths.get(dir)).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("lang=")).toSet
    assert(dirs.contains("lang=fr") && dirs.contains("lang=en"))
  }

  test("DV DML + purge compose with column mapping: renamed table, DV update/merge by logical name, purge clears") {
    import graft.sources.{DeltaScan, DeltaWrite}
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_delta_map_dvdml").toString + "/t"
    DeltaWrite.create(spark,
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("id", "tag"), dir)
    DeltaWrite.renameColumn(spark, dir, "tag", "label") // table is now MAPPED
    // DV UPDATE addresses the RENAMED logical column; images must land
    // under the pinned physical name so mapped reads resolve them
    assert(DeltaWrite.updateWhereDV(spark, dir, col("id") % 2 === 0,
      Seq("label" -> lit("even"))) == 2L)
    assert(DeltaScan.read(spark, dir).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "even"), (3L, "c"), (4L, "even")))
    // DV MERGE with the renamed schema
    val (u, i) = DeltaWrite.mergeDV(spark, dir,
      Seq((3L, "M3"), (9L, "M9")).toDF("id", "label"), Seq("id"))
    assert(u == 1L && i == 1L)
    assert(DeltaScan.read(spark, dir).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "even"), (3L, "M3"), (4L, "even"), (9L, "M9")))
    // purge on the mapped table: logical view unchanged, DVs gone,
    // mapped CoW maintenance re-enabled
    val (files, dead) = DeltaWrite.purge(spark, dir)
    assert(files > 0 && dead == 3L, s"got ($files, $dead)")
    DeltaWrite.compact(spark, dir, smallFileBytes = 1L << 30)
    assert(DeltaScan.read(spark, dir).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "even"), (3L, "M3"), (4L, "even"), (9L, "M9")))
  }

  test("renameColumn on a DV + partitioned table: features merge, deletes stay applied") {
    import graft.sources.{DeltaScan, DeltaWrite}
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // DV first (reader 3 + deletionVectors feature), THEN the mapping
    // upgrade must PRESERVE that feature
    val dir = java.nio.file.Files.createTempDirectory("graft_delta_ren_dv").toString + "/t"
    DeltaWrite.create(spark, Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "tag"), dir)
    assert(DeltaWrite.deleteWhereDV(spark, dir, col("id") === 2L) == 1L)
    DeltaWrite.renameColumn(spark, dir, "tag", "label")
    assert(DeltaScan.read(spark, dir).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((1L, "a"), (3L, "c")))
    val logText = java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/_delta_log"))
      .iterator().asScala.filter(_.toString.endsWith(".json")).toSeq.sortBy(_.toString)
      .map(p => new String(java.nio.file.Files.readAllBytes(p), "UTF-8")).mkString
    assert(logText.contains("deletionVectors") && logText.contains("columnMapping"))

    // partitioned table: partition-column rename refuses, data-column
    // rename works and later appends land in the same hive layout
    val dir2 = java.nio.file.Files.createTempDirectory("graft_delta_ren_part").toString + "/t"
    DeltaWrite.create(spark, Seq((1L, "en", 10L), (2L, "de", 20L)).toDF("id", "lang", "n"),
      dir2, partitionBy = Seq("lang"))
    intercept[IllegalArgumentException](DeltaWrite.renameColumn(spark, dir2, "lang", "l2"))
    DeltaWrite.renameColumn(spark, dir2, "n", "cnt")
    DeltaWrite.append(spark, Seq((3L, "en", 30L)).toDF("id", "lang", "cnt"), dir2,
      partitionBy = Seq("lang"))
    assert(DeltaScan.read(spark, dir2).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq ==
      Seq((1L, "en", 10L), (2L, "de", 20L), (3L, "en", 30L)))
    assert(java.nio.file.Files.list(java.nio.file.Paths.get(dir2)).iterator().asScala
      .map(_.getFileName.toString).count(_ == "lang=en") == 1)
  }

  test("history metadata table: one row per commit with action counts and txn apps") {
    import graft.sources.{DeltaScan, DeltaWrite}
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_delta_hist").toString + "/t"
    DeltaWrite.create(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir)
    DeltaWrite.appendWithTxn(spark, Seq((3L, "c")).toDF("id", "v"), dir, "appH", 7L)
    DeltaWrite.deleteWhere(spark, dir, col("id") === 1L)
    DeltaWrite.renameColumn(spark, dir, "v", "w")

    val h = DeltaScan.history(spark, dir).orderBy("version").collect()
    assert(h.length == 4)
    assert(h.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L, 3L))
    // commitInfo operations ride every commit this writer makes
    assert(h.map(_.getString(2)).toSeq ==
      Seq("CREATE TABLE AS SELECT", "WRITE", "DELETE", "ALTER COLUMN MAPPING"))
    assert(h(0).getBoolean(5), "commit 0 declares metaData")
    assert(h(1).getSeq[String](7) == Seq("appH"))
    assert(h(2).getLong(4) >= 1, "delete removes its victim file")
    assert(h(3).getBoolean(5) && h(3).getBoolean(6),
      "rename re-declares metaData and upgrades protocol")
    assert(h(3).getLong(3) == 0 && h(3).getLong(4) == 0, "rename moves no files")
    // timestamps are monotone non-decreasing under in-commit evidence
    val ts = h.map(_.getLong(1))
    assert(ts.zip(ts.tail).forall { case (a, b) => a <= b })
  }

  test("mapped append after checkpoint-based log cleanup still writes physical names") {
    import graft.sources.{DeltaScan, DeltaWrite}
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_map_ckpt").toString + "/t"
    DeltaWrite.create(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "tag"), dir)
    DeltaWrite.renameColumn(spark, dir, "tag", "label")
    DeltaWrite.checkpoint(spark, dir)
    // clean the whole JSON tail: metaData now lives ONLY in the checkpoint
    val log = new java.io.File(s"$dir/_delta_log")
    (0L to DeltaScan.latestVersion(spark, dir)).foreach { v =>
      new java.io.File(log, f"$v%020d.json").delete(); ()
    }
    DeltaWrite.append(spark, Seq((3L, "c")).toDF("id", "label"), dir)
    assert(DeltaScan.read(spark, dir).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // the post-cleanup append's file carries the PHYSICAL name
    val newest = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .iterator().asScala.map(_.toFile).filter(_.getName.endsWith(".parquet"))
      .toSeq.maxBy(_.lastModified)
    val rawCols = spark.read.parquet(newest.toString).columns.toSet
    assert(rawCols.contains("tag") && !rawCols.contains("label"),
      s"append after log cleanup must still map to physical names, got $rawCols")
    // and a wrong-schema append is still validated (from the checkpoint)
    intercept[IllegalArgumentException](
      DeltaWrite.append(spark, Seq((4L, 4L)).toDF("id", "label"), dir))
  }

  test("cloneShallow: zero-copy reads, local appends, DV deletes; vacuum never touches the source") {
    import graft.sources.{DeltaScan, DeltaWrite}
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val src = java.nio.file.Files.createTempDirectory("graft_clone_src").toString + "/t"
    val cl = java.nio.file.Files.createTempDirectory("graft_clone_dst").toString + "/t"
    DeltaWrite.create(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), src)
    DeltaWrite.append(spark, Seq((3L, "c")).toDF("id", "v"), src)
    DeltaWrite.cloneShallow(spark, src, cl)

    // zero data under the clone, full reads through the source pointers
    assert(java.nio.file.Files.list(java.nio.file.Paths.get(cl)).iterator().asScala
      .count(_.getFileName.toString.endsWith(".parquet")) == 0)
    assert(DeltaScan.read(spark, cl).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))

    // divergence: clone appends locally, source appends stay invisible
    DeltaWrite.append(spark, Seq((4L, "d")).toDF("id", "v"), cl)
    DeltaWrite.append(spark, Seq((9L, "z")).toDF("id", "v"), src)
    assert(DeltaScan.read(spark, cl).count() == 4L)
    assert(DeltaScan.read(spark, src).count() == 4L)
    assert(DeltaScan.read(spark, cl).collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L, 4L))

    // copy-on-write ops refuse the absolute adds loudly
    val e = intercept[IllegalArgumentException](
      DeltaWrite.deleteWhere(spark, cl, col("id") === 1L))
    assert(e.getMessage.contains("absolute"))
    intercept[IllegalArgumentException](DeltaWrite.compact(spark, cl, smallFileBytes = 1L << 30))

    // merge-on-read DV delete works on the clone (no rewrite needed)
    assert(DeltaWrite.deleteWhereDV(spark, cl, col("id") === 2L) == 1L)
    assert(DeltaScan.read(spark, cl).collect().map(_.getLong(0)).toSet == Set(1L, 3L, 4L))
    // and the SOURCE is untouched by the clone's delete
    assert(DeltaScan.read(spark, src).collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L, 9L))

    // vacuum on the clone never deletes outside its root: the removed
    // (absolute) source file survives even at zero retention
    DeltaWrite.vacuum(spark, cl, retainMs = 0L)
    assert(DeltaScan.read(spark, src).count() == 4L, "vacuuming a clone must not damage the source")
  }

  test("cloneShallow: PARTITIONED sources read through the clone (absolute adds skip the basePath branch)") {
    import graft.sources.{DeltaScan, DeltaWrite}
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val src = java.nio.file.Files.createTempDirectory("graft_clone_psrc").toString + "/t"
    val cl = java.nio.file.Files.createTempDirectory("graft_clone_pdst").toString + "/t"
    DeltaWrite.create(spark,
      Seq((1L, "x", "a"), (2L, "x", "b"), (3L, "y", "c")).toDF("id", "part", "v"),
      src, partitionBy = Seq("part"))
    DeltaWrite.append(spark, Seq((4L, "y", "d")).toDF("id", "part", "v"),
      src, partitionBy = Seq("part"))
    DeltaWrite.cloneShallow(spark, src, cl)
    // partition values come from the add actions' partitionValues, typed
    assert(DeltaScan.read(spark, cl).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq ==
      Seq((1L, "x", "a"), (2L, "x", "b"), (3L, "y", "c"), (4L, "y", "d")))
    // partition-predicate reads work; the SOURCE's own basePath read is intact
    assert(DeltaScan.read(spark, cl).filter(col("part") === "y")
      .collect().map(_.getLong(0)).toSet == Set(3L, 4L))
    assert(DeltaScan.read(spark, src).count() == 4L)
    // a local append to the clone lands under the CLONE root and reads back
    DeltaWrite.append(spark, Seq((5L, "z", "e")).toDF("id", "part", "v"),
      cl, partitionBy = Seq("part"))
    assert(DeltaScan.read(spark, cl).count() == 5L)
    assert(DeltaScan.read(spark, src).count() == 4L, "clone append must not touch the source")
  }

  test("cloneShallow: a literal '%' in the source path survives the log round-trip") {
    import graft.sources.{DeltaScan, DeltaWrite}
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_clone_pct").toString
    val src = base + "/t%3Asrc" // decodes to 't:src' if the path were mis-decoded
    val cl = base + "/clone"
    DeltaWrite.create(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), src)
    DeltaWrite.cloneShallow(spark, src, cl)
    assert(DeltaScan.read(spark, cl).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((1L, "a"), (2L, "b")))
  }

  test("renameColumn/dropColumn refuse while a CHECK constraint references the column") {
    import graft.sources.{DeltaScan, DeltaWrite}
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_alter_chk").toString + "/t"
    DeltaWrite.create(spark, Seq((1L, 10L), (2L, 20L)).toDF("id", "score"), dir)
    DeltaWrite.addCheckConstraint(spark, dir, "score_pos", "score > 0")
    val v = DeltaScan.latestVersion(spark, dir)
    val eR = intercept[IllegalArgumentException](
      DeltaWrite.renameColumn(spark, dir, "score", "points"))
    assert(eR.getMessage.contains("score_pos"), s"rename must name the constraint: $eR")
    val eD = intercept[IllegalArgumentException](DeltaWrite.dropColumn(spark, dir, "score"))
    assert(eD.getMessage.contains("score_pos"))
    assert(DeltaScan.latestVersion(spark, dir) == v, "refused alters must not commit")
    // untouched columns still rename; appends still enforce the constraint
    DeltaWrite.renameColumn(spark, dir, "id", "key")
    intercept[IllegalArgumentException](
      DeltaWrite.append(spark, Seq((3L, -1L)).toDF("key", "score"), dir))
    DeltaWrite.append(spark, Seq((3L, 30L)).toDF("key", "score"), dir)
    // dropping the constraint lifts the guard
    DeltaWrite.dropCheckConstraint(spark, dir, "score_pos")
    DeltaWrite.renameColumn(spark, dir, "score", "points")
    assert(DeltaScan.read(spark, dir).columns.toSeq == Seq("key", "points"))
    assert(DeltaScan.read(spark, dir).count() == 3L)
  }

  test("CHECK constraints: gate appends, updates, merges, and the streaming sink; drop lifts them") {
    import graft.sources.{DeltaScan, DeltaWrite}
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_delta_check").toString + "/t"
    DeltaWrite.create(spark, Seq((1L, 10L), (2L, 20L)).toDF("id", "score"), dir)
    DeltaWrite.addCheckConstraint(spark, dir, "score_pos", "score > 0")

    // valid append passes; violating append refuses with NOTHING committed
    DeltaWrite.append(spark, Seq((3L, 30L)).toDF("id", "score"), dir)
    val vBefore = DeltaScan.latestVersion(spark, dir)
    val e = intercept[IllegalArgumentException](
      DeltaWrite.append(spark, Seq((4L, -1L)).toDF("id", "score"), dir))
    assert(e.getMessage.contains("score_pos"))
    assert(DeltaScan.latestVersion(spark, dir) == vBefore, "failed write must not commit")
    assert(DeltaScan.read(spark, dir).count() == 3L)

    // UPDATE and MERGE are gated too
    intercept[IllegalArgumentException](DeltaWrite.updateWhere(spark, dir,
      col("id") === 1L, Seq("score" -> lit(-5L))))
    intercept[IllegalArgumentException](DeltaWrite.merge(spark, dir,
      Seq((2L, -9L)).toDF("id", "score"), Seq("id")))
    assert(DeltaScan.read(spark, dir).filter(col("score") <= 0).count() == 0L)
    // valid DML passes
    assert(DeltaWrite.updateWhere(spark, dir, col("id") === 1L,
      Seq("score" -> lit(99L))) == 1L)

    // the streaming sink path (appendWithTxn) is gated as well
    intercept[IllegalArgumentException](DeltaWrite.appendWithTxn(spark,
      Seq((7L, 0L)).toDF("id", "score"), dir, "appC", 1L))

    // adding a constraint existing rows violate refuses
    intercept[IllegalArgumentException](
      DeltaWrite.addCheckConstraint(spark, dir, "small", "score < 50"))
    // duplicate name refuses; drop lifts enforcement
    intercept[IllegalArgumentException](
      DeltaWrite.addCheckConstraint(spark, dir, "score_pos", "score > 10"))
    DeltaWrite.dropCheckConstraint(spark, dir, "score_pos")
    DeltaWrite.append(spark, Seq((4L, -1L)).toDF("id", "score"), dir)
    assert(DeltaScan.read(spark, dir).count() == 4L)
  }

  test("NOT NULL: declared non-nullable columns refuse null-bearing writes on both writers") {
    import graft.sources.{DeltaScan, DeltaWrite, IcebergScan, IcebergWrite}
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import spark.implicits._
    // tuple dfs declare longs non-nullable -> both tables pin id as required
    val d = java.nio.file.Files.createTempDirectory("graft_nn_delta").toString + "/t"
    val i = java.nio.file.Files.createTempDirectory("graft_nn_ice").toString + "/t"
    DeltaWrite.create(spark, Seq((1L, "a")).toDF("id", "v"), d)
    IcebergWrite.create(spark, Seq((1L, "a")).toDF("id", "v"), i)
    // a NULLABLE frame carrying an actual null refuses on both
    val sch = StructType(Seq(StructField("id", LongType, nullable = true),
      StructField("v", StringType, nullable = true)))
    val bad = spark.createDataFrame(
      java.util.Arrays.asList(Row(null, "x"), Row(2L, "y")), sch)
    val e1 = intercept[IllegalArgumentException](DeltaWrite.append(spark, bad, d))
    assert(e1.getMessage.contains("non-nullable"))
    val e2 = intercept[IllegalArgumentException](IcebergWrite.append(spark, bad, i))
    assert(e2.getMessage.contains("required"))
    // a nullable frame with NO nulls passes (value check, not schema pedantry)
    val ok = spark.createDataFrame(java.util.Arrays.asList(Row(2L, "y")), sch)
    DeltaWrite.append(spark, ok, d)
    IcebergWrite.append(spark, ok, i)
    assert(DeltaScan.read(spark, d).count() == 2L)
    assert(IcebergScan.read(spark, i).count() == 2L)
    // an UPDATE cannot null a required column either
    intercept[IllegalArgumentException](DeltaWrite.updateWhere(spark, d,
      org.apache.spark.sql.functions.col("id") === 1L,
      Seq("id" -> org.apache.spark.sql.functions.lit(null).cast("long"))))
  }

  test("every checkpoint layout replays to the JSON-only snapshot") {
    // a log exercising every replay wrinkle: partition values (with a
    // null), stats, a remove + same-version re-add (the DV re-add
    // shape, where add must win the tie), a percent-encoded path, a
    // later metaData re-declaration, a protocol upgrade, and adds
    // carrying a deletion vector and row-tracking fields
    import graft.sources.DeltaWrite
    val base = freshDir("graft_delta_cpequiv").resolve("base")
    val s0 = writeDataFile(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), base, "f0.parquet")
    val s1 = writeDataFile(Seq((3L, "c")).toDF("id", "v"), base, "f1.parquet")
    val s2 = writeDataFile(Seq((4L, "d")).toDF("id", "v"), base, "p=x%25y/f2.parquet")
    val s3 = writeDataFile(Seq((5L, "e")).toDF("id", "v"), base, "f3.parquet")
    val stats = """{\"numRecords\":2,\"minValues\":{\"id\":1},\"maxValues\":{\"id\":2},\"nullCount\":{\"id\":0}}"""
    def dv(card: Int) = s""""deletionVector":{"storageType":"u","pathOrInlineDv":"ab^-aqEH.-t@S}K{vb[*k^","offset":1,"sizeInBytes":36,"cardinality":$card}"""
    writeCommit(base, 0, Seq(protoAction, metaAction(),
      s"""{"add":{"path":"f0.parquet","partitionValues":{},"size":$s0,"modificationTime":1700000000000,"dataChange":true,"stats":"$stats"}}""",
      addAction("f1.parquet", s1)))
    writeCommit(base, 1, Seq(removeAction("f0.parquet"), addAction("f0.parquet", s0)))
    writeCommit(base, 2, Seq(removeAction("f1.parquet"),
      addAction("p=x%2525y/f2.parquet", s2, pv = """{"p":"x%y","q":null}""")))
    writeCommit(base, 3, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors","v2Checkpoint"],"writerFeatures":["deletionVectors","domainMetadata","rowTracking","v2Checkpoint"]}}""",
      metaAction(conf = """{"delta.enableDeletionVectors":"true","delta.enableRowTracking":"true"}"""),
      removeAction("f0.parquet"),
      s"""{"add":{"path":"f0.parquet","partitionValues":{},"size":$s0,"modificationTime":1700000002000,"dataChange":true,"stats":"$stats",${dv(1)},"baseRowId":0,"defaultRowCommitVersion":0}}""",
      s"""{"add":{"path":"f3.parquet","partitionValues":{},"size":$s3,"modificationTime":1700000002000,"dataChange":true,${dv(2)},"baseRowId":7,"defaultRowCommitVersion":3}}"""))
    val cpV = 3L

    def norm(st: DeltaScan.LiveState) =
      (st.schema, st.partCols, st.conf, st.columnMapped,
        st.files.map(f => (f.path, f.pv, f.dv, f.stats)).sortBy(_._1))
    def plain(n: com.fasterxml.jackson.databind.JsonNode): Any =
      if (n.isObject) n.properties().asScala.map(e => e.getKey -> plain(e.getValue)).toMap
      else if (n.isArray) n.elements().asScala.map(plain).toSeq
      else if (n.isNull) null
      else if (n.isNumber) n.asLong()
      else if (n.isBoolean) n.asBoolean()
      else n.asText()
    /** the live state and every live add action, field by field */
    def state(d: Path, v: Option[Long]) =
      (norm(DeltaScan.liveState(spark, d.toString, v)),
        DeltaScan.snapshotAt(spark, d.toString, v).adds.map { case (p, a) => p -> plain(a) }.toMap)
    /** the JSON-only replay of the same commits: `_last_checkpoint` hidden */
    def oracle(d: Path, v: Long) = {
      val lc = d.resolve("_delta_log/_last_checkpoint")
      val hidden = d.resolve("last_checkpoint.hidden")
      Files.move(lc, hidden)
      try state(d, Some(v)) finally Files.move(hidden, lc)
    }
    def copyOfBase(): Path = {
      val d = freshDir("graft_delta_cpequiv_layout").resolve("t")
      Files.walk(base).iterator().asScala.toSeq.foreach { p =>
        val t = d.resolve(base.relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
      }
      d
    }
    def logFiles(d: Path) = Files.list(d.resolve("_delta_log")).iterator().asScala.toSeq
    /** the parquet file of a DataFrame written by Spark, moved to `dest` */
    def sparkWrite(df: DataFrame, dest: Path): Unit = {
      val tmp = Files.createTempDirectory("graft_delta_cpequiv_part").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      Files.move(Files.list(Paths.get(tmp)).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get, dest)
    }
    def v2Top(d: Path): Path = logFiles(d).find(_.getFileName.toString
      .matches(f"$cpV%020d\\.checkpoint\\.[a-f0-9-]+\\.parquet")).get

    val layouts: Seq[(String, Path => Unit)] = Seq(
      "classic" -> (d => DeltaWrite.checkpoint(spark, d.toString)),
      "multi-part" -> { d =>
        // Spark-written parts: the table-level actions, then the adds
        DeltaWrite.checkpoint(spark, d.toString)
        val single = d.resolve(f"_delta_log/$cpV%020d.checkpoint.parquet")
        val cp = spark.read.parquet(single.toString).collect().toSeq
        val schema = spark.read.parquet(single.toString).schema
        val (adds, rest) = cp.partition(r => !r.isNullAt(r.fieldIndex("add")))
        Seq(rest, adds).zipWithIndex.foreach { case (rows, i) =>
          sparkWrite(spark.createDataFrame(rows.asJava, schema),
            d.resolve(f"_delta_log/$cpV%020d.checkpoint.${i + 1}%010d.${2}%010d.parquet"))
        }
        Files.delete(single)
        Files.write(d.resolve("_delta_log/_last_checkpoint"),
          s"""{"version":$cpV,"size":${cp.size},"parts":2}""".getBytes(StandardCharsets.UTF_8))
      },
      "v2 with sidecars" -> (d => DeltaWrite.checkpointV2(spark, d.toString)),
      "v2 with a JSON top" -> { d =>
        DeltaWrite.checkpointV2(spark, d.toString)
        val top = v2Top(d)
        val lines = spark.read.parquet(top.toString).toJSON.collect()
        Files.write(Paths.get(top.toString.stripSuffix(".parquet") + ".json"),
          lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
        Files.delete(top)
      })

    layouts.foreach { case (name, make) =>
      val d = copyOfBase()
      make(d)
      assert(DeltaScan.latestVersion(spark, d.toString) == cpV, s"$name made a commit")
      assert(logFiles(d).exists(_.getFileName.toString.startsWith(f"$cpV%020d.checkpoint.")),
        s"$name wrote no checkpoint")
      assert(state(d, None) == oracle(d, cpV), s"$name at the checkpoint version")
      assert(state(d, Some(cpV - 1)) == oracle(d, cpV - 1), s"$name traveling before it")
      // two commits after the checkpoint: a remove and a new add
      writeCommit(d, 4, Seq(removeAction("f3.parquet")))
      writeCommit(d, 5, Seq(addAction("f1.parquet", s1)))
      val expected = oracle(d, 5L)
      assert(state(d, None) == expected, s"$name two commits after the checkpoint")
      assert(state(d, Some(cpV)) == oracle(d, cpV), s"$name traveling back to it")
      // the checkpoint, not the JSON commits it covers, is what is read
      (0L to cpV).foreach(v => Files.delete(d.resolve(f"_delta_log/$v%020d.json")))
      assert(state(d, None) == expected, s"$name with the commits it covers deleted")
    }
    // and the rows agree end-to-end before the deletion vectors
    val rows = DeltaScan.read(spark, base.toString, Some(2L))
      .orderBy("id").as[(Long, String)].collect().toSeq
    assert(rows == Seq((1L, "a"), (2L, "b"), (4L, "d")))
  }
}
