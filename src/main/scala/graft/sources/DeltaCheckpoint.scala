package graft.sources

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.{ArrayNode, JsonNodeFactory, ObjectNode}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.conf.ParquetConfiguration
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.{ColumnIOFactory, InputFile, OutputFile, PositionOutputStream}
import org.apache.parquet.io.api.{Binary, RecordConsumer}
import org.apache.parquet.schema.{GroupType, LogicalTypeAnnotation, MessageType, Type}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.execution.datasources.parquet.SparkToParquetSchemaConverter
import org.apache.spark.sql.types._

/** Driver-side codec for Delta checkpoints (PROTOCOL.md §Checkpoints),
  * as delta-kernel's default engine reads them: parquet-hadoop on the
  * driver, no Spark job. A checkpoint row decodes to the JSON node the
  * same action has in a commit (`{"add":{...}}`; absent and null
  * columns are left out, null map values stay null), so one replay
  * serves checkpoint and JSON tail alike ([[DeltaScan.snapshot]]).
  * Reads cover the classic single file, multi-part checkpoints and v2
  * UUID-named top files, parquet or JSON, with their parquet sidecars;
  * only the requested action columns of a parquet part are decoded.
  * Writes produce one parquet file with the schema and footer metadata
  * Spark's own parquet writer gives [[schema]], published through
  * [[AtomicFiles]]. */
private[sources] object DeltaCheckpoint {

  /** the checkpoint files of one version; `v2`: a UUID-named top file,
    * the only kind that may point at sidecars */
  final case class Files(version: Long, parts: Seq[FileStatus], json: Boolean, v2: Boolean)

  private val dvType = StructType(Seq(
    StructField("storageType", StringType), StructField("pathOrInlineDv", StringType),
    StructField("offset", IntegerType), StructField("sizeInBytes", IntegerType),
    StructField("cardinality", LongType)))

  /** the columns of a checkpoint row: every action a snapshot needs
    * after log truncation — add (stats for data skipping, deletion
    * vectors, row-tracking ids), metaData, protocol (reader and writer
    * features), txn (exactly-once markers) and domainMetadata */
  val schema: StructType = StructType(Seq(
    StructField("add", StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType)),
      StructField("size", LongType),
      StructField("modificationTime", LongType),
      StructField("dataChange", BooleanType),
      StructField("stats", StringType),
      StructField("deletionVector", dvType),
      StructField("baseRowId", LongType),
      StructField("defaultRowCommitVersion", LongType)))),
    StructField("remove", StructType(Seq(
      StructField("path", StringType), StructField("dataChange", BooleanType)))),
    StructField("metaData", StructType(Seq(
      StructField("id", StringType),
      StructField("format", StructType(Seq(
        StructField("provider", StringType),
        StructField("options", MapType(StringType, StringType))))),
      StructField("schemaString", StringType),
      StructField("partitionColumns", ArrayType(StringType)),
      StructField("configuration", MapType(StringType, StringType)),
      StructField("createdTime", LongType)))),
    StructField("protocol", StructType(Seq(
      StructField("minReaderVersion", IntegerType),
      StructField("minWriterVersion", IntegerType),
      StructField("readerFeatures", ArrayType(StringType)),
      StructField("writerFeatures", ArrayType(StringType))))),
    StructField("txn", StructType(Seq(
      StructField("appId", StringType), StructField("version", LongType)))),
    StructField("domainMetadata", StructType(Seq(
      StructField("domain", StringType),
      StructField("configuration", StringType),
      StructField("removed", BooleanType))))))

  /** a v2 top file's columns: [[schema]] plus the sidecar pointers and
    * the checkpointMetadata row */
  val v2TopSchema: StructType = StructType(schema.fields ++ Seq(
    StructField("sidecar", StructType(Seq(
      StructField("path", StringType), StructField("sizeInBytes", LongType),
      StructField("modificationTime", LongType)))),
    StructField("checkpointMetadata", StructType(Seq(
      StructField("version", LongType))))))

  /** Feeds `f` every action line of checkpoint `cp` whose action is one
    * of `keys`, in file order. A v2 top file's sidecars are followed
    * only when `keys` names a file action (v2 keeps every other action
    * in the top file). */
  def foreach(fs: FileSystem, logDir: Path, cp: Files, keys: Set[String])(
      f: JsonNode => Unit): Unit = {
    val fileActions = keys("add") || keys("remove")
    val sidecars = Seq.newBuilder[String]
    val topKeys = if (cp.v2 && fileActions) keys + "sidecar" else keys
    def top(n: JsonNode): Unit =
      if (n.has("sidecar")) sidecars += n.get("sidecar").get("path").asText()
      else f(n)
    cp.parts.foreach { st =>
      if (cp.json) readJson(fs, st.getPath, topKeys)(top)
      else readParquet(HadoopInputFile.fromStatus(st, fs.getConf), topKeys)(top)
    }
    sidecars.result().foreach { p =>
      val path =
        if (p.contains("://") || p.startsWith("/")) new Path(p)
        else new Path(logDir, s"_sidecars/$p")
      readParquet(HadoopInputFile.fromPath(path, fs.getConf), keys)(f)
    }
  }

  private def readJson(fs: FileSystem, p: Path, keys: Set[String])(f: JsonNode => Unit): Unit =
    LakeSupport.readUtf8(fs, p).linesIterator.filter(_.trim.nonEmpty)
      .map(LakeSupport.mapper.readTree)
      .filter(n => n.fieldNames().asScala.exists(keys))
      .foreach(f)

  /** one open of the file: footer, then the `keys` columns of every
    * row group; rows whose requested columns are all null are skipped */
  private def readParquet(in: InputFile, keys: Set[String])(f: JsonNode => Unit): Unit = {
    val r = ParquetFileReader.open(in)
    try {
      val fileSchema = r.getFooter.getFileMetaData.getSchema
      val wanted = fileSchema.getFields.asScala.filter(t => keys(t.getName))
      if (wanted.nonEmpty) {
        val proj = new MessageType(fileSchema.getName, wanted.asJava)
        r.setRequestedSchema(proj)
        val io = new ColumnIOFactory().getColumnIO(proj, fileSchema)
        var pages = r.readNextRowGroup()
        while (pages != null) {
          val rows = io.getRecordReader(pages, new GroupRecordConverter(proj))
          var i = 0L
          while (i < pages.getRowCount) {
            val node = struct(rows.read(), proj)
            if (node.size > 0) f(node)
            i += 1
          }
          pages = r.readNextRowGroup()
        }
      }
    } finally r.close()
  }

  private val nodes = JsonNodeFactory.instance

  private def struct(g: Group, t: GroupType): ObjectNode = {
    val o = nodes.objectNode()
    (0 until t.getFieldCount).foreach { i =>
      if (g.getFieldRepetitionCount(i) > 0) {
        val v = value(g, i, 0, t.getType(i))
        if (v != null) o.set[JsonNode](t.getFieldName(i), v)
      }
    }
    o
  }

  /** the `j`-th value of field `i`; null for the fixed-width physical
    * types (typed stats copies, which the replay does not read) */
  private def value(g: Group, i: Int, j: Int, t: Type): JsonNode =
    if (t.isPrimitive) t.asPrimitiveType.getPrimitiveTypeName match {
      case PrimitiveTypeName.BINARY => nodes.textNode(g.getBinary(i, j).toStringUsingUTF8)
      case PrimitiveTypeName.INT32 => nodes.numberNode(g.getInteger(i, j))
      case PrimitiveTypeName.INT64 => nodes.numberNode(g.getLong(i, j))
      case PrimitiveTypeName.BOOLEAN => nodes.booleanNode(g.getBoolean(i, j))
      case PrimitiveTypeName.DOUBLE => nodes.numberNode(g.getDouble(i, j))
      case PrimitiveTypeName.FLOAT => nodes.numberNode(g.getFloat(i, j))
      case _ => null
    } else {
      val gt = t.asGroupType
      val sub = g.getGroup(i, j)
      gt.getLogicalTypeAnnotation match {
        case _: LogicalTypeAnnotation.MapLogicalTypeAnnotation |
             _: LogicalTypeAnnotation.MapKeyValueTypeAnnotation => map(sub, gt)
        case _: LogicalTypeAnnotation.ListLogicalTypeAnnotation => list(sub, gt)
        case _ => struct(sub, gt)
      }
    }

  private def map(g: Group, t: GroupType): ObjectNode = {
    val o = nodes.objectNode()
    val kv = t.getType(0).asGroupType
    (0 until g.getFieldRepetitionCount(0)).foreach { k =>
      val e = g.getGroup(0, k)
      val v = if (e.getFieldRepetitionCount(1) == 0) nodes.nullNode()
              else value(e, 1, 0, kv.getType(1))
      o.set[JsonNode](value(e, 0, 0, kv.getType(0)).asText(), v)
    }
    o
  }

  /** standard three-level lists, and the legacy two-level shape whose
    * repeated field is the element itself */
  private def list(g: Group, t: GroupType): ArrayNode = {
    val a = nodes.arrayNode()
    val rep = t.getType(0)
    val threeLevel = !rep.isPrimitive && rep.asGroupType.getFieldCount == 1
    (0 until g.getFieldRepetitionCount(0)).foreach { k =>
      if (!threeLevel) a.add(value(g, 0, k, rep))
      else {
        val e = g.getGroup(0, k)
        a.add(if (e.getFieldRepetitionCount(0) == 0) nodes.nullNode()
              else value(e, 0, 0, rep.asGroupType.getType(0)))
      }
    }
    a
  }

  /** Writes `rows` (action lines) as one parquet file with the columns
    * of `sch` and publishes it at `dest`; returns its length. A file
    * already published at `dest` is a complete checkpoint of the same
    * version and stays: replacing it is a delete then a rename on the
    * local filesystem, and a crash between the two would leave
    * `_last_checkpoint` naming a missing file. */
  def write(fs: FileSystem, dest: Path, sch: StructType, rows: Seq[JsonNode]): Long = {
    val out = new BytesOutput
    val w = new NodeWriter(out, new NodeWriteSupport(sch))
      .withConf(fs.getConf)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
    try rows.foreach(w.write) finally w.close()
    val bytes = out.buf.toByteArray
    try AtomicFiles.publish(fs, dest, bytes, overwrite = false)
    catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => () }
    bytes.length.toLong
  }

  private final class NodeWriter(out: OutputFile, ws: WriteSupport[JsonNode])
      extends ParquetWriter.Builder[JsonNode, NodeWriter](out) {
    override protected def self(): NodeWriter = this
    override protected def getWriteSupport(conf: Configuration): WriteSupport[JsonNode] = ws
    override protected def getWriteSupport(conf: ParquetConfiguration): WriteSupport[JsonNode] = ws
  }

  /** Spark's parquet layout for `sch` (standard, non-legacy lists and
    * maps) and its footer keys, so Spark reads the file back with the
    * exact schema */
  private final class NodeWriteSupport(sch: StructType) extends WriteSupport[JsonNode] {
    private var rc: RecordConsumer = _

    override def init(conf: Configuration): WriteSupport.WriteContext =
      new WriteSupport.WriteContext(new SparkToParquetSchemaConverter().convert(sch),
        Map("org.apache.spark.sql.parquet.row.metadata" -> sch.json,
          "org.apache.spark.version" -> org.apache.spark.SPARK_VERSION_SHORT).asJava)

    override def prepareForWrite(c: RecordConsumer): Unit = rc = c

    override def write(n: JsonNode): Unit = {
      rc.startMessage(); fields(sch, n); rc.endMessage()
    }

    private def field(name: String, i: Int)(body: => Unit): Unit = {
      rc.startField(name, i); body; rc.endField(name, i)
    }

    private def fields(st: StructType, n: JsonNode): Unit =
      st.fields.iterator.zipWithIndex.foreach { case (f, i) =>
        val v = n.get(f.name)
        if (v != null && !v.isNull) field(f.name, i)(value(f.dataType, v))
      }

    private def value(dt: DataType, v: JsonNode): Unit = dt match {
      case s: StructType => rc.startGroup(); fields(s, v); rc.endGroup()
      case m: MapType =>
        rc.startGroup()
        if (v.size > 0) field("key_value", 0) {
          v.properties().asScala.foreach { e =>
            rc.startGroup()
            field("key", 0)(rc.addBinary(Binary.fromString(e.getKey)))
            if (!e.getValue.isNull) field("value", 1)(value(m.valueType, e.getValue))
            rc.endGroup()
          }
        }
        rc.endGroup()
      case a: ArrayType =>
        rc.startGroup()
        if (v.size > 0) field("list", 0) {
          v.elements().asScala.foreach { e =>
            rc.startGroup()
            if (!e.isNull) field("element", 0)(value(a.elementType, e))
            rc.endGroup()
          }
        }
        rc.endGroup()
      case StringType => rc.addBinary(Binary.fromString(v.asText()))
      case LongType => rc.addLong(v.asLong())
      case IntegerType => rc.addInteger(v.asInt())
      case BooleanType => rc.addBoolean(v.asBoolean())
      case other => throw new IllegalArgumentException(s"no checkpoint column has type $other")
    }
  }

  /** an in-memory parquet sink: the file is published whole */
  private final class BytesOutput extends OutputFile {
    val buf = new java.io.ByteArrayOutputStream()
    private def stream: PositionOutputStream = new PositionOutputStream {
      override def getPos: Long = buf.size.toLong
      override def write(b: Int): Unit = buf.write(b)
      override def write(b: Array[Byte], off: Int, len: Int): Unit = buf.write(b, off, len)
    }
    override def create(blockSizeHint: Long): PositionOutputStream = stream
    override def createOrOverwrite(blockSizeHint: Long): PositionOutputStream = stream
    override def supportsBlockSize(): Boolean = false
    override def defaultBlockSize(): Long = 0L
  }
}
