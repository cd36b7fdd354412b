package graft.streaming

import java.util.{Map => JMap}

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.example.data.Group
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadAllAvailable, ReadLimit, ReadMaxBytes, ReadMaxFiles, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.{DeletionVectors, DeltaScan}

/** STREAMING SOURCE over the built-in Delta tables — a real
  * DataSource-V2 `MicroBatchStream`, not a polling loop:
  *
  * {{{
  * spark.readStream
  *   .format("graft.streaming.DeltaStreamProvider")
  *   .option("startingVersion", "0")   // default 0 = existing content first
  *   .load(tablePath)
  * }}}
  *
  * Offsets are LOG VERSIONS (exclusive start, inclusive end): each
  * micro-batch reads exactly the `add` actions of the newly committed
  * versions, so progress is transactional and a checkpoint restart
  * resumes at the committed version with no duplicates (spec-proven).
  * Append-only contract like [[graft.sources.DeltaScan.readChanges]]:
  * a `dataChange=true` remove (copy-on-write DELETE/UPDATE/MERGE) or a
  * deletion-vector re-add inside the range fails the stream loudly —
  * a streaming consumer cannot retract rows it already emitted.
  * Compaction commits (`dataChange=false`) are skipped per protocol.
  *
  * Scale shape: planning reads only the new commits' JSON (KBs);
  * each data file becomes one input partition whose reader is a plain
  * parquet-mr scan — executor-side, no driver data movement.
  * Scope: primitive top-level columns, hive partitioning (values from
  * the add's partitionValues), INT64-micros timestamps (Spark's
  * INT96 default is refused loudly — write with
  * `spark.sql.parquet.outputTimestampType=TIMESTAMP_MICROS`).
  *
  * ADMISSION CONTROL (the 100 TB knob): without it the FIRST
  * micro-batch swallows the whole initial snapshot — on a large table
  * that is one giant batch the cluster must finish (and checkpoint)
  * in one piece. `.option("maxFilesPerTrigger", n)` /
  * `.option("maxBytesPerTrigger", b)` bound each batch; offsets then
  * address MID-COMMIT positions (`{"version":v,"index":i}` = versions
  * < v fully consumed + the first i dataChange adds of v), so one huge
  * commit splits across many batches and a restart resumes at the
  * exact file boundary. A batch always admits at least one file (a
  * single file larger than maxBytesPerTrigger still flows, alone).
  * Old `{"version":v}` checkpoints deserialize as fully-consumed-v.
  * `Trigger.AvailableNow` is supported natively: the end version is
  * pinned at query start and drained in capped batches. */
class DeltaStreamProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val base = DeltaScan.tableSchema(SparkSession.active, DeltaStreamSource.pathOf(options))
    if (DeltaStreamSource.cdfOf(options)) DeltaStreamSource.cdfSchema(base)
    else base
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    new DeltaStreamTable(schema, DeltaStreamSource.pathOf(opts),
      DeltaStreamSource.cdfOf(opts))
  }

  override def supportsExternalMetadata(): Boolean = false
}

private[streaming] class DeltaStreamTable(
    schema: StructType, path: String, cdf: Boolean)
    extends Table with SupportsRead {
  override def name(): String = s"graft-delta-stream(`$path`)"
  override def schema(): StructType = schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new DeltaMicroBatchStream(path, schema,
            Option(options.get("startingVersion")).map(_.toLong).getOrElse(0L),
            Option(options.get("maxFilesPerTrigger")).map(_.toInt),
            Option(options.get("maxBytesPerTrigger")).map(_.toLong),
            cdf)
      }
    }
}

/** Stream position: versions `< version` fully consumed, plus the first
  * `index` dataChange add-files of `version`. `index = Long.MaxValue`
  * means the whole version is consumed (and is what pre-admission
  * checkpoints — bare `{"version":v}` — deserialize to). */
private[streaming] case class DeltaStreamOffset(version: Long, index: Long)
    extends Offset {
  override def json(): String = s"""{"version":$version,"index":$index}"""
}

private[streaming] class DeltaMicroBatchStream(
    path: String, schema: StructType, startingVersion: Long,
    maxFilesPerTrigger: Option[Int], maxBytesPerTrigger: Option[Long],
    cdf: Boolean = false)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  private def spark = SparkSession.active

  maxFilesPerTrigger.foreach(n => require(n > 0,
    s"maxFilesPerTrigger must be positive, got $n"))
  maxBytesPerTrigger.foreach(b => require(b > 0,
    s"maxBytesPerTrigger must be positive, got $b"))

  /** parsed dataChange adds of one committed version, in log-line order
    * (the order is part of the offset contract — `index` counts these).
    * Bounded memo: latestOffset and planInputPartitions both walk the
    * same versions each trigger; without it every poll re-parses the
    * same KBs of JSON. */
  private val addsMemo =
    new java.util.LinkedHashMap[Long, IndexedSeq[DeltaAddFile]](64, 0.75f, true) {
      override def removeEldestEntry(
          e: JMap.Entry[Long, IndexedSeq[DeltaAddFile]]): Boolean = size() > 64
    }

  /** the table's log, read by version only (never listed here) */
  private lazy val log = DeltaScan.logFiles(spark, path)

  private def addsOf(v: Long): IndexedSeq[DeltaAddFile] = addsMemo.synchronized {
    val hit = addsMemo.get(v)
    if (hit != null) return hit
    val root = log.fs.makeQualified(new Path(path))
    val read =
      try Some(log.readCommit(v)) catch { case _: java.io.FileNotFoundException => None }
    require(read.nonEmpty, s"streaming source lost commit $v of $path (log truncated?)")
    val nodes = read.get
    def fileOf(n: com.fasterxml.jackson.databind.JsonNode,
        isCdc: Boolean): DeltaAddFile = {
      val decoded = DeltaScan.percentDecode(n.get("path").asText())
      DeltaAddFile(new Path(root, decoded).toString, DeltaScan.stringMap(n, "partitionValues"),
        Option(n.get("size")).map(_.asLong()).getOrElse(0L), isCdc)
    }
    // CDF MODE (readChangeFeed): same per-version file rule as the
    // batch change feed ([[graft.sources.DeltaScan.readCdf]]) — a
    // commit carrying `cdc` actions serves EXACTLY those change files
    // (its adds/removes describe the post-image layout, not the
    // changes); an insert-only commit's dataChange adds ARE the
    // inserts; a data-changing remove without cdc stays LOUD (the
    // deleted rows are not reconstructible — the table predates
    // enableChangeDataFeed or a non-CDF writer ran DML).
    val cdcs = if (cdf) nodes.filter(_.has("cdc")).map(_.get("cdc")) else Nil
    val r: IndexedSeq[DeltaAddFile] =
      if (cdcs.nonEmpty) cdcs.map(fileOf(_, isCdc = true)).toIndexedSeq
      else {
        val adds = IndexedSeq.newBuilder[DeltaAddFile]
        nodes.foreach { node =>
          if (node.has("add")) {
            val add = node.get("add")
            val dataChange = Option(add.get("dataChange")).forall(_.asBoolean(true))
            val dv = add.get("deletionVector")
            require(dv == null || dv.isNull,
              s"commit $v of $path re-adds a file with a deletion vector — " +
                (if (cdf) "the change feed cannot reconstruct the DV'd rows " +
                  "(the DV writer committed no cdc actions)"
                 else "an append-only stream cannot retract already-emitted " +
                  "rows; use the batch reader for DV tables"))
            if (dataChange) adds += fileOf(add, isCdc = false)
          } else if (node.has("remove")) {
            val rm = node.get("remove")
            val dataChange = Option(rm.get("dataChange")).forall(_.asBoolean(true))
            require(!dataChange,
              if (cdf)
                s"commit $v of $path removes data without cdc actions — the " +
                  "change feed cannot reconstruct the deleted rows (commit " +
                  "predates enableChangeDataFeed, or a non-CDF writer ran DML)"
              else
                s"commit $v of $path removes data (delete/update/merge/restore) — " +
                  "an append-only stream cannot retract already-emitted rows; " +
                  "stream with .option(\"readChangeFeed\", \"true\") from a " +
                  "CDF-enabled table, or re-derive downstream state from the " +
                  "batch reader")
          }
        }
        adds.result()
      }
    addsMemo.put(v, r)
    r
  }

  override def initialOffset(): Offset =
    DeltaStreamOffset(startingVersion - 1, Long.MaxValue)

  // Trigger.AvailableNow pins the drain target at query start; capped
  // batches then walk up to it and the query stops there.
  @volatile private var availableNowEnd: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(DeltaScan.latestVersion(spark, path))

  override def getDefaultReadLimit: ReadLimit =
    StreamAdmission.defaultLimit(maxFilesPerTrigger, maxBytesPerTrigger)

  override def reportLatestOffset(): Offset =
    DeltaStreamOffset(DeltaScan.latestVersion(spark, path), Long.MaxValue)

  // SupportsAdmissionControl routes planning through the 2-arg form;
  // the legacy no-arg answer is simply "everything"
  override def latestOffset(): Offset = reportLatestOffset()

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[DeltaStreamOffset]
    val caps = StreamAdmission.capsOf(limit)
    val latest = availableNowEnd.getOrElse(DeltaScan.latestVersion(spark, path))
    var (curV, curI) = (s.version, s.index)
    var (files, bytes) = (0L, 0L)
    var v = if (s.index == Long.MaxValue) s.version + 1 else s.version
    while (v <= latest) {
      val adds = addsOf(v)
      var i = if (v == s.version && s.index != Long.MaxValue)
        math.min(s.index, adds.size.toLong).toInt else 0
      while (i < adds.size) {
        if (!caps.accepts(files, bytes, adds(i).bytes))
          return DeltaStreamOffset(curV, curI)
        files += 1; bytes += adds(i).bytes
        curV = v; curI = i + 1L
        i += 1
      }
      v += 1
    }
    // post-loop = every add through `latest` is consumed (caps return
    // mid-loop): mark the latest version fully consumed — also when its
    // tail is metadata-only commits — so polls don't re-walk them; only
    // a genuinely unchanged log returns the start offset (no batch)
    if (files == 0L && latest <= s.version) DeltaStreamOffset(s.version, s.index)
    else DeltaStreamOffset(latest, Long.MaxValue)
  }

  override def deserializeOffset(json: String): Offset = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    DeltaStreamOffset(node.get("version").asLong(),
      Option(node.get("index")).map(_.asLong()).getOrElse(Long.MaxValue))
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[DeltaStreamOffset]
    val e = end.asInstanceOf[DeltaStreamOffset]
    if (e.version < s.version ||
        (e.version == s.version && e.index <= s.index)) return Array.empty
    val parts = Seq.newBuilder[InputPartition]
    var v = if (s.index == Long.MaxValue) s.version + 1 else s.version
    while (v <= e.version) {
      val adds = addsOf(v)
      val from = if (v == s.version && s.index != Long.MaxValue)
        math.min(s.index, adds.size.toLong).toInt else 0
      val to = if (v == e.version)
        math.min(e.index, adds.size.toLong).toInt else adds.size
      (from until to).foreach { i =>
        val a = adds(i)
        // CDF columns ride the partition-value injection path: the
        // commit version always, the change type only when the file
        // is a plain insert add (cdc parquet files carry their own
        // `_change_type` column — the reader decodes it per row)
        val pv =
          if (!cdf) a.partitionValues
          else a.partitionValues +
            ("_commit_version" -> v.toString) ++
            (if (a.isCdc) Map.empty[String, String]
             else Map("_change_type" -> "insert"))
        parts += DeltaFilePartition(a.abs, pv)
      }
      v += 1
    }
    parts.result().toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new DeltaFileReaderFactory(schema,
      new DeletionVectors.ConfHolder(spark.sparkContext.hadoopConfiguration))
}

/** one dataChange add (or cdc) action: absolute file path, hive
  * partition values, the action's recorded byte size (admission
  * accounting), and whether it is a change file (its parquet carries
  * a `_change_type` column) */
private[streaming] case class DeltaAddFile(
    abs: String, partitionValues: Map[String, String], bytes: Long,
    isCdc: Boolean = false)

/** Shared ReadLimit → per-batch caps decoding for the lakehouse stream
  * sources. Files/bytes caps only — these sources admit whole FILES
  * (the transactional unit of both logs); row limits would split a
  * file and are refused loudly. */
private[streaming] object StreamAdmission {
  final case class Caps(maxFiles: Option[Long], maxBytes: Option[Long]) {
    /** at least one file per batch, else both caps must hold */
    def accepts(filesTaken: Long, bytesTaken: Long, nextBytes: Long): Boolean =
      filesTaken == 0L ||
        (maxFiles.forall(filesTaken < _) &&
          maxBytes.forall(bytesTaken + nextBytes <= _))
  }

  def defaultLimit(maxFiles: Option[Int], maxBytes: Option[Long]): ReadLimit =
    (maxFiles.map(ReadLimit.maxFiles).toSeq ++
      maxBytes.map(ReadLimit.maxBytes).toSeq) match {
      case Seq() => ReadLimit.allAvailable()
      case Seq(one) => one
      case many => ReadLimit.compositeLimit(many.toArray)
    }

  def capsOf(limit: ReadLimit): Caps = limit match {
    case _: ReadAllAvailable => Caps(None, None)
    case f: ReadMaxFiles => Caps(Some(f.maxFiles().toLong), None)
    case b: ReadMaxBytes => Caps(None, Some(b.maxBytes()))
    case c: CompositeReadLimit =>
      c.getReadLimits.map(capsOf).foldLeft(Caps(None, None)) { (acc, x) =>
        Caps(acc.maxFiles.orElse(x.maxFiles), acc.maxBytes.orElse(x.maxBytes))
      }
    case other => throw new IllegalArgumentException(
      s"unsupported ReadLimit $other — the lakehouse stream sources admit " +
        "whole files: use maxFilesPerTrigger / maxBytesPerTrigger")
  }
}

private[streaming] case class DeltaFilePartition(
    absPath: String, partitionValues: Map[String, String]) extends InputPartition

private[streaming] class DeltaFileReaderFactory(
    schema: StructType, holder: DeletionVectors.ConfHolder)
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val fp = partition.asInstanceOf[DeltaFilePartition]
    new PartitionReader[InternalRow] {
      private val reader: ParquetReader[Group] = {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new Path(fp.absPath), holder.value)
        new ParquetReader.Builder[Group](in) {
          override def getReadSupport() = new GroupReadSupport()
        }.build()
      }
      private var row: Group = _
      override def next(): Boolean = { row = reader.read(); row != null }
      override def get(): InternalRow =
        DeltaStreamSource.toInternalRow(schema, fp.partitionValues, row)
      override def close(): Unit = reader.close()
    }
  }
}

private[streaming] object DeltaStreamSource {

  def pathOf(options: CaseInsensitiveStringMap): String = {
    val p = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "graft-delta-stream needs a table path: .load(path) or .option(\"path\", ...)"))
    p
  }

  /** `.option("readChangeFeed", "true")` — the CDF streaming mode */
  def cdfOf(options: CaseInsensitiveStringMap): Boolean =
    Option(options.get("readChangeFeed")).exists(_.toBoolean)

  /** CDF mode output schema: the table columns + the change columns */
  def cdfSchema(base: StructType): StructType =
    StructType(base.fields ++ Seq(
      StructField("_change_type", StringType),
      StructField("_commit_version", LongType)))

  /** one parquet-mr Group + the hive partition values → InternalRow in
    * schema order; executors only, no Spark scan machinery.
    *
    * Column resolution is RENAME-PROOF: a field reads its Delta
    * columnMapping physicalName when mapped, then falls back to
    * parquet field-id matching (Iceberg renames — the schema field and
    * the file column share an id even when the stored name is the
    * pre-rename one), then the plain name; still-unresolved columns are
    * NULL (schema evolution: the column postdates the file). */
  def toInternalRow(schema: StructType, partitionValues: Map[String, String],
      g: Group): InternalRow = {
    val gt = g.getType
    val groupFields = (0 until gt.getFieldCount).map(i => gt.getFieldName(i)).toSet
    val byId: Map[Int, String] = (0 until gt.getFieldCount).flatMap { i =>
      Option(gt.getType(i).getId).map(id => id.intValue() -> gt.getFieldName(i))
    }.toMap
    val values = schema.fields.map { f =>
      val phys =
        if (f.metadata.contains("delta.columnMapping.physicalName"))
          f.metadata.getString("delta.columnMapping.physicalName")
        else f.name
      val fileCol: String =
        if (groupFields.contains(phys)) phys
        else if (f.metadata.contains("parquet.field.id"))
          byId.getOrElse(f.metadata.getLong("parquet.field.id").toInt, null)
        else null
      if (partitionValues.contains(phys)) partitionValue(f, partitionValues(phys))
      else if (fileCol == null) null // evolved column absent in old files
      else if (g.getFieldRepetitionCount(fileCol) == 0) null
      else decodeField(f, fileCol, g)
    }
    new GenericInternalRow(values.asInstanceOf[Array[Any]])
  }

  private def decodeField(f: StructField, name: String, g: Group): Any =
    f.dataType match {
      case LongType => g.getLong(name, 0)
      case IntegerType | DateType => g.getInteger(name, 0)
      case ShortType => g.getInteger(name, 0).toShort
      case ByteType => g.getInteger(name, 0).toByte
      case DoubleType => g.getDouble(name, 0)
      case FloatType => g.getFloat(name, 0)
      case BooleanType => g.getBoolean(name, 0)
      case StringType => UTF8String.fromBytes(g.getBinary(name, 0).getBytes)
      case TimestampType | TimestampNTZType =>
        // INT64 micros only; Spark's INT96 default throws inside
        // parquet-mr with a type error — surface the remedy
        try g.getLong(name, 0)
        catch {
          case e: RuntimeException => throw new IllegalArgumentException(
            s"timestamp column '${f.name}' is not INT64 micros — write the " +
              "table with spark.sql.parquet.outputTimestampType=TIMESTAMP_MICROS", e)
        }
      case other => throw new IllegalArgumentException(
        s"column '${f.name}': type ${other.sql} not supported by the " +
          "streaming source (primitive top-level columns only)")
    }

  private def partitionValue(f: StructField, raw: String): Any =
    if (raw == null) null
    else f.dataType match {
      case StringType => UTF8String.fromString(raw)
      case LongType => raw.toLong
      case IntegerType => raw.toInt
      case DoubleType => raw.toDouble
      case BooleanType => raw.toBoolean
      // a day(ts) GENERATED column is a DateType partition column —
      // serialized yyyy-MM-dd in the log (Delta PROTOCOL §Partition
      // Value Serialization), decoded to Spark's epoch-day int
      case DateType => java.time.LocalDate.parse(raw).toEpochDay.toInt
      case other => throw new IllegalArgumentException(
        s"partition column '${f.name}': type ${other.sql} not supported by " +
          "the streaming source")
    }
}
