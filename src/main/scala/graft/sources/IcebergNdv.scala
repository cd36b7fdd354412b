package graft.sources

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import LakeSupport.mapper

/** Table STATISTICS files (Iceberg spec §Table Statistics + Puffin):
  * `analyze` computes one mergeable NDV sketch per column in a single
  * distributed aggregation pass, writes them as Puffin blobs, and
  * registers the file under the table metadata's `statistics` field
  * (snapshot-scoped, replace-on-reanalyze, carried verbatim across
  * later commits exactly like `refs`).
  *
  * The sketch payload is Apache DataSketches **HLL** binary as
  * produced by Spark's native `hll_sketch_agg` (Spark embeds
  * datasketches-java, so the bytes are genuinely interoperable and
  * mergeable by any DataSketches reader). The spec names only
  * `apache-datasketches-theta-v1` for NDV blobs; emitting that type
  * with HLL bytes would be a false conformance claim, so graft uses
  * an honest custom type ([[BlobType]]) plus the conventional `ndv`
  * blob property — which is the part warehouse engines actually read
  * (the reference's backends expose ANALYZE the same way:
  * src/TidierDB.jl delegates to DuckDB's own stats machinery).
  *
  * Scale shape: ONE aggregation job over the delete-applied read
  * (HLL partial-merges map-side), a driver row of ncols sketches
  * (KBs), one Puffin write, one metadata CAS. Sketches from disjoint
  * analyze passes UNION in O(k) — stats maintenance at 100 TB can be
  * incremental per partition and merged, never recomputed whole. */
object IcebergNdv {

  /** DataSketches HLL binary (lgConfigK 12), `ndv` property alongside */
  val BlobType = "graft-datasketches-hll-v1"

  final case class ColumnStats(
      column: String, fieldId: Int, ndv: Long, sketch: Array[Byte])

  /** columns `hll_sketch_agg` accepts natively; everything else is
    * cast to string first (injective for the supported primitive
    * domain, so NDV is preserved) */
  private def sketchCol(f: StructField): org.apache.spark.sql.Column = f.dataType match {
    case IntegerType | LongType | StringType | BinaryType => col(f.name)
    case _ => col(f.name).cast(StringType)
  }

  /** ANALYZE: per-column NDV sketches for the CURRENT snapshot.
    * `columns` empty = every column. Returns the registered stats. */
  def analyze(spark: SparkSession, tablePath: String,
      columns: Seq[String] = Nil): Seq[ColumnStats] = {
    val cur = IcebergWrite.current(spark, tablePath)
    val (fs, root, metaDir, version, node) = (cur.fs, cur.root, cur.metaDir, cur.next, cur.node)
    val snapshotId = Option(node.get("current-snapshot-id")).map(_.asLong())
      .filter(_ != -1L).getOrElse(throw new IllegalArgumentException(
        s"$tablePath has no current snapshot to analyze"))
    val snapSeq = Option(node.get("snapshots")).toSeq
      .flatMap(_.elements().asScala)
      .find(_.get("snapshot-id").asLong() == snapshotId)
      .flatMap(s => Option(s.get("sequence-number")).map(_.asLong()))
      .getOrElse(0L)
    val schemaNode = IcebergScan.currentSchema(node)
    val idByName = schemaNode.get("fields").elements().asScala
      .map(f => f.get("name").asText() -> f.get("id").asInt()).toMap

    val df = IcebergScan.read(spark, tablePath)
    val wanted = if (columns.nonEmpty) columns else df.schema.fieldNames.toSeq
    wanted.foreach(c => require(df.schema.fieldNames.contains(c),
      s"analyze column '$c' is not a column of $tablePath"))
    val fields = wanted.map(df.schema(_))
    // ONE pass: every column's sketch in a single aggregation row
    val row = df.agg(
      hll_sketch_agg(sketchCol(fields.head)).as(fields.head.name),
      fields.tail.map(f => hll_sketch_agg(sketchCol(f)).as(f.name)): _*
    ).head() // [lint:bounded] one row of ncols KB-sized sketches
    val sketches = fields.zipWithIndex.map { case (f, i) =>
      val bytes = row.getAs[Array[Byte]](i)
      (f.name, idByName(f.name), sketchEstimate(bytes), bytes)
    }

    // one Puffin stats file, one blob per column
    val statsRel = s"metadata/stats-v$version-${IcebergWrite.pathNonce()}.puffin"
    val statsPath = new Path(root, statsRel)
    val blobs = sketches.map { case (name, fid, ndv, bytes) =>
      Puffin.Blob(BlobType, Seq(fid), snapshotId, snapSeq,
        Map("ndv" -> ndv.toString), bytes)
    }
    val metas = Puffin.write(fs, statsPath, blobs,
      Map("created-by" -> "graft-analyze"))
    val fileLen = fs.getFileStatus(statsPath).getLen
    val footerLen = fileLen - 4L - blobs.map(_.payload.length.toLong).sum

    // register under `statistics`, replacing any entry for this snapshot
    val statsArr = Option(node.get("statistics"))
      .map(_.asInstanceOf[ArrayNode]).getOrElse(mapper.createArrayNode())
    val kept = mapper.createArrayNode()
    statsArr.elements().asScala
      .filterNot(_.get("snapshot-id").asLong() == snapshotId)
      .foreach(kept.add)
    val entry = kept.addObject()
    entry.put("snapshot-id", snapshotId)
    entry.put("statistics-path", statsPath.toString)
    entry.put("file-size-in-bytes", fileLen)
    entry.put("file-footer-size-in-bytes", footerLen)
    val bm = entry.putArray("blob-metadata")
    metas.foreach { m =>
      val b = bm.addObject()
      b.put("type", m.blobType)
      b.put("snapshot-id", m.snapshotId)
      b.put("sequence-number", m.sequenceNumber)
      val fl = b.putArray("fields"); m.fields.foreach(fl.add)
      val p = b.putObject("properties")
      m.properties.foreach { case (k, v) => p.put(k, v) }
    }
    node.set[ObjectNode]("statistics", kept)
    node.put("last-updated-ms", System.currentTimeMillis())
    try IcebergWrite.publishVersion(fs, metaDir, version, node.toString)
    catch {
      case e: java.util.ConcurrentModificationException =>
        fs.delete(statsPath, false)
        throw e
    }
    sketches.map { case (n, fid, ndv, bytes) => ColumnStats(n, fid, ndv, bytes) }
  }

  /** the registered statistics for the CURRENT snapshot (None when the
    * table has no stats, or only stats for other snapshots — per spec
    * a reader must not assume another snapshot's stats apply). Reads
    * ndv from the blob properties in the table metadata; sketch bytes
    * from the Puffin file. */
  def tableStatistics(spark: SparkSession,
      tablePath: String): Option[Seq[ColumnStats]] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val cur = IcebergWrite.current(spark, tablePath)
    val (fs, node) = (cur.fs, cur.node)
    val snapshotId = Option(node.get("current-snapshot-id")).map(_.asLong())
      .filter(_ != -1L).getOrElse(return scala.None)
    val entry = Option(node.get("statistics")).toSeq
      .flatMap(_.elements().asScala)
      .find(_.get("snapshot-id").asLong() == snapshotId)
      .getOrElse(return scala.None)
    val schemaNode = IcebergScan.currentSchema(node)
    val nameById = schemaNode.get("fields").elements().asScala
      .map(f => f.get("id").asInt() -> f.get("name").asText()).toMap
    val statsPath = new Path(entry.get("statistics-path").asText())
    val (blobs, _) = Puffin.footer(conf, statsPath)
    Some(blobs.filter(_.blobType == BlobType).map { m =>
      val fid = m.fields.headOption.getOrElse(
        throw new IllegalStateException(s"stats blob in $statsPath names no field"))
      ColumnStats(
        column = nameById.getOrElse(fid, s"field-$fid"),
        fieldId = fid,
        ndv = m.properties.get("ndv").map(_.toLong).getOrElse(
          throw new IllegalStateException(
            s"stats blob for field $fid in $statsPath carries no ndv property")),
        sketch = Puffin.readBlob(conf, statsPath, m))
    })
  }

  /** Driver-side estimate of ONE aggregated sketch — the same
    * `Math.round(heapify(bytes).getEstimate)` Spark's
    * `hll_sketch_estimate` expression computes, without the
    * one-row Spark job the expression form costs per column
    * (deterministic for given bytes, so recorded NDV values are
    * unchanged; asserted against the expression in IcebergNdvSpec). */
  private[graft] def sketchEstimate(bytes: Array[Byte]): Long =
    Math.round(org.apache.datasketches.hll.HllSketch.heapify(
      org.apache.datasketches.memory.Memory.wrap(bytes)).getEstimate)

  /** merged NDV of several DataSketches HLL sketches (disjoint or
    * overlapping analyze passes union in O(k)) — driver-side union,
    * mirroring Spark's `hll_union_agg` (target lgK = the max of the
    * inputs' lgConfigK, the union default). */
  def mergedNdv(spark: SparkSession, sketches: Seq[Array[Byte]]): Long = {
    require(sketches.nonEmpty, "mergedNdv needs at least one sketch")
    import org.apache.datasketches.hll.{HllSketch, Union}
    import org.apache.datasketches.memory.Memory
    val parsed = sketches.map(b => HllSketch.heapify(Memory.wrap(b)))
    val union = new Union(parsed.map(_.getLgConfigK).max)
    parsed.foreach(union.update)
    Math.round(union.getResult.getEstimate)
  }
}

/** PARTITION STATISTICS files (Iceberg spec §Partition Statistics):
  * per-partition data/delete record+file counts and byte totals,
  * written as a parquet file registered under the table metadata's
  * `partition-statistics` field. Computed ENTIRELY from manifest
  * planning metadata — no data scan: group the snapshot's live
  * entries by (spec_id, partition tuple). The `partition` column is
  * the spec's unified tuple (the union of every spec's fields by
  * name; fields a given file's spec lacks are null), each field
  * stamped with its spec field-id so external readers resolve by id.
  *
  * Scale shape: one manifest walk (already PlanningGuard-bounded),
  * a driver group-by over O(partitions) entries, one parquet write,
  * one metadata CAS. */
object IcebergPartitionStats {

  /** compute + register partition statistics for the CURRENT
    * snapshot (replacing any prior entry for it). Returns the rows
    * written, as (spec_id, partition map, data_record_count,
    * data_file_count, total_data_file_size_in_bytes,
    * position_delete_record_count, equality_delete_record_count). */
  def write(spark: SparkSession, tablePath: String): DataFrame = {
    val cur = IcebergWrite.current(spark, tablePath)
    val (fs, root, metaDir, version, node) = (cur.fs, cur.root, cur.metaDir, cur.next, cur.node)
    val snapshotId = Option(node.get("current-snapshot-id")).map(_.asLong())
      .filter(_ != -1L).getOrElse(throw new IllegalArgumentException(
        s"$tablePath has no current snapshot"))

    // unified partition tuple: the union of every spec's fields by
    // name, typed by their record types, stamped with spec field-ids
    val (schema0, entries) = IcebergScan.currentEntries(spark, tablePath)
    val _ = schema0
    // v1 metadata records only the legacy single "partition-spec"
    // fields array — wrap it in the v2 shape
    val specsJson = Option(node.get("partition-specs")).map(_.toString)
      .orElse(Option(node.get("partition-spec")).map(f =>
        s"""[{"spec-id":0,"fields":$f}]"""))
    val allFields: Seq[(String, StructField, Int)] = {
      val schemaNode = IcebergScan.currentSchema(node)
      val nameById = schemaNode.get("fields").elements().asScala
        .map(f => f.get("id").asInt() -> f.get("name").asText()).toMap
      val sparkSchema = IcebergScan.sparkSchema(schemaNode)
      val specs = specsJson.map(mapper.readTree).toSeq
        .flatMap(_.elements().asScala)
      val seen = scala.collection.mutable.LinkedHashMap
        .empty[String, (StructField, Int)]
      specs.foreach { sp =>
        IcebergTransforms.fromSpecJson(sp.get("fields").toString, nameById,
          sparkSchema).zip(sp.get("fields").elements().asScala.toSeq)
          .foreach { case (pf, fj) =>
            val fid = Option(fj.get("field-id")).map(_.asInt()).getOrElse(1000)
            if (!seen.contains(pf.specName))
              seen += pf.specName -> ((pf.recordField, fid))
          }
      }
      seen.toSeq.map { case (n, (f, id)) => (n, f, id) }
    }
    require(allFields.nonEmpty,
      s"$tablePath is unpartitioned — partition statistics describe " +
        "partition tuples; use IcebergNdv.analyze / files() for " +
        "table-level statistics")

    final case class Agg(var dRows: Long = 0L, var dFiles: Int = 0,
      var dBytes: Long = 0L, var pRows: Long = 0L, var pFiles: Int = 0,
      var eRows: Long = 0L, var eFiles: Int = 0)
    val byPart = scala.collection.mutable.LinkedHashMap
      .empty[(Int, Seq[Any]), Agg]
    entries.foreach { e =>
      val tuple = allFields.map { case (n, _, _) => e.partition.getOrElse(n, null) }
      val a = byPart.getOrElseUpdate((e.specId, tuple), Agg())
      e.content match {
        case 0 => a.dRows += e.rows; a.dFiles += 1; a.dBytes += e.bytes
        case 1 => a.pRows += e.rows; a.pFiles += 1
        case 2 => a.eRows += e.rows; a.eFiles += 1
        case _ => ()
      }
    }

    import org.apache.spark.sql.Row
    def externalize(f: StructField, v: Any): Any = (f.dataType, v) match {
      case (_, null) => null
      case (DateType, i: java.lang.Integer) =>
        java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(i.longValue()))
      case (StringType, s) => s.toString
      case _ => v
    }
    val rows: Seq[Row] = byPart.toSeq.map { case ((sid, tuple), a) =>
      Row(Row.fromSeq(allFields.zip(tuple).map { case ((_, f, _), v) =>
        externalize(f, v) }),
        sid, a.dRows, a.dFiles, a.dBytes, a.pRows, a.pFiles, a.eRows, a.eFiles)
    }
    def withId(f: StructField, id: Int): StructField =
      f.copy(nullable = true, metadata = new org.apache.spark.sql.types.MetadataBuilder()
        .putLong("parquet.field.id", id.toLong).build())
    val outSchema = StructType(Seq(
      StructField("partition",
        StructType(allFields.map { case (_, f, id) => withId(f, id) }), nullable = false),
      StructField("spec_id", IntegerType, nullable = false),
      StructField("data_record_count", LongType, nullable = false),
      StructField("data_file_count", IntegerType, nullable = false),
      StructField("total_data_file_size_in_bytes", LongType, nullable = false),
      StructField("position_delete_record_count", LongType, nullable = false),
      StructField("position_delete_file_count", IntegerType, nullable = false),
      StructField("equality_delete_record_count", LongType, nullable = false),
      StructField("equality_delete_file_count", IntegerType, nullable = false)))
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](rows.asJava), outSchema)

    // one parquet file under metadata/ (partition stats are metadata)
    val tmpDir = new Path(root, s"metadata/.pstats-tmp-${IcebergWrite.pathNonce()}")
    df.coalesce(1).write.mode("overwrite").parquet(tmpDir.toString)
    val part = fs.listStatus(tmpDir).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).getOrElse(
        throw new IllegalStateException(s"no parquet written under $tmpDir"))
    val statsRel = s"metadata/partition-stats-v$version-${IcebergWrite.pathNonce()}.parquet"
    val statsPath = new Path(root, statsRel)
    require(fs.rename(part, statsPath), s"rename $part -> $statsPath failed")
    fs.delete(tmpDir, true)

    val arr = Option(node.get("partition-statistics"))
      .map(_.asInstanceOf[ArrayNode]).getOrElse(mapper.createArrayNode())
    val kept = mapper.createArrayNode()
    arr.elements().asScala
      .filterNot(_.get("snapshot-id").asLong() == snapshotId)
      .foreach(kept.add)
    val entry = kept.addObject()
    entry.put("snapshot-id", snapshotId)
    entry.put("statistics-path", statsPath.toString)
    entry.put("file-size-in-bytes", fs.getFileStatus(statsPath).getLen)
    node.set[ObjectNode]("partition-statistics", kept)
    node.put("last-updated-ms", System.currentTimeMillis())
    try IcebergWrite.publishVersion(fs, metaDir, version, node.toString)
    catch {
      case e: java.util.ConcurrentModificationException =>
        fs.delete(statsPath, false)
        throw e
    }
    df
  }

  /** the registered partition statistics for the CURRENT snapshot
    * (None when absent or stale, same snapshot-scoping as
    * [[IcebergNdv.tableStatistics]]) */
  def read(spark: SparkSession, tablePath: String): Option[DataFrame] = {
    val node = IcebergWrite.current(spark, tablePath).node
    val snapshotId = Option(node.get("current-snapshot-id")).map(_.asLong())
      .filter(_ != -1L).getOrElse(return scala.None)
    Option(node.get("partition-statistics")).toSeq
      .flatMap(_.elements().asScala)
      .find(_.get("snapshot-id").asLong() == snapshotId)
      .map(e => spark.read.parquet(e.get("statistics-path").asText()))
  }
}
