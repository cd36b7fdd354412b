package graft.sources

import java.nio.charset.StandardCharsets

import scala.collection.immutable.VectorMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import DeltaScan.Meta
import LakeSupport.{footerRows, jstr, mapper, parMap, readFooter, MaxCommitRetries}

/** Minimal dependency-free Delta Lake WRITER — the sink half of the
  * built-in lakehouse support (reader: [[DeltaScan]]). Writes the
  * public transaction-log protocol directly: data files are plain
  * parquet written by Spark's own writer (hive layout when
  * partitioned), each commit is one `_delta_log/%020d.json` with
  * `protocol`/`metaData` (version 0) and `add` actions.
  *
  * Scope: create + append with CONDITIONAL commits — the log file is
  * created with overwrite=false, so two writers racing to the same
  * version fail loudly (ConcurrentModificationException) instead of
  * clobbering each other; what real connectors add on top is the
  * RETRY loop (re-read log, re-validate, re-commit at the next
  * version), plus checkpoints and compaction. Any engine's Delta
  * reader (including [[DeltaScan]], spec + gate round-tripped) reads
  * the result.
  *
  * Scale: the data write is Spark's distributed parquet writer —
  * partitioning, task parallelism, and file sizing are untouched; the
  * log commit is one driver-side metadata file listing only the NEW
  * files (~100 B each), the same planning-index cost every Delta
  * writer pays.
  */
object DeltaWrite {

  /** Create a new Delta table at `tablePath` (commit 0). Fails if a
    * Delta log already exists there.
    *
    * `partitionBy` entries are bare column names (identity layout) or
    * hidden-partitioning transforms (`day(ts)`, `month(ts)`,
    * `year(ts)`, `hour(ts)`, `truncate(W, c)`) — a transform becomes a
    * GENERATED COLUMN: a real schema column whose field metadata
    * carries `delta.generationExpression` (plain Spark SQL any Delta
    * engine can evaluate), derived on every write path and partitioned
    * by; reads prune on the SOURCE column through the bounds each
    * file's partition value implies ([[DeltaTransforms]]). `bucket` is
    * Iceberg-only (its spec hash is not SQL-expressible) — refused. */
  def create(spark: SparkSession, df: DataFrame, tablePath: String,
      partitionBy: Seq[String] = Nil): Unit = {
    val view = new LogView(spark, tablePath)
    require(!view.exists, s"Delta log already exists at $tablePath — use append")
    val (ddf, parts) = withGenerated(df, partitionBy)
    commitData(view, ddf, parts, createHeader(ddf, parts), at = Some(0L))
  }

  /** transform `partitionBy` entries → generated columns appended to
    * `df` with their generation SQL recorded in field metadata */
  private def withGenerated(df: DataFrame,
      partitionBy: Seq[String]): (DataFrame, Seq[String]) = {
    import org.apache.spark.sql.functions.{col, expr}
    val parsed = partitionBy.map(DeltaTransforms.parseEntry(_, df.schema))
    if (parsed.forall(_.isLeft)) (df, partitionBy)
    else {
      val genCols = parsed.collect { case Right(pf) =>
        require(!df.schema.fieldNames.contains(pf.specName),
          s"derived partition column '${pf.specName}' collides with a data column")
        val sql = DeltaTransforms.genSql(pf)
        expr(sql).as(pf.specName, new org.apache.spark.sql.types.MetadataBuilder()
          .putString(DeltaTransforms.GenExprKey, sql).build())
      }
      (df.select(df.columns.map(col).toSeq ++ genCols: _*),
        parsed.map { case Left(n) => n; case Right(pf) => pf.specName })
    }
  }

  /** recompute the table's generated columns on an incoming frame —
    * added if absent, OVERWRITTEN if present (the generation expression
    * is the contract; trusting caller-provided values would let one bad
    * writer break partition pruning for every reader) — and auto-fill
    * `partitionBy` from the declared partitions when the caller passed
    * none (the hidden-partitioning UX: callers never name derived
    * columns). */
  private def deriveGenerated(md: Option[Meta],
      df: DataFrame, partitionBy: Seq[String]): (DataFrame, Seq[String]) = {
    import org.apache.spark.sql.functions.{col, expr}
    md match {
      case scala.None => (df, partitionBy)
      case Some(m) =>
        val declared = m.schema
        val gens = DeltaTransforms.generatedFields(declared)
        if (gens.isEmpty) (df, partitionBy)
        else {
          val genNames = gens.map(_._1.name).toSet
          val keep = df.columns.filterNot(genNames.contains).map(col).toSeq
          val derived = gens.map { case (f, sql) =>
            expr(sql).cast(f.dataType).as(f.name, f.metadata)
          }
          val withGen = df.select(keep ++ derived: _*)
          // declared order first, any EXTRA columns (appendEvolve) last
          val ordered = withGen.select(
            (declared.fieldNames.filter(withGen.columns.contains) ++
              withGen.columns.filterNot(declared.fieldNames.contains))
              .map(col).toSeq: _*)
          (ordered, if (partitionBy.isEmpty) m.partCols else partitionBy)
        }
    }
  }

  /** GENERATED ALWAYS identity columns refuse ops that would fabricate
    * or overwrite their values: merges take whole rows from the source
    * (no `setCols`), updates are checked per SET column */
  private def refuseIdentity(schema: StructType, op: String,
      setCols: Iterable[String] = Nil): Unit =
    identityField(schema).foreach { case (f, _, _, _, allow) =>
      if (setCols.isEmpty)
        require(allow,
          s"$op takes identity column '${f.name}' values from the source, " +
            "but it is GENERATED ALWAYS — create with allowExplicitInsert = " +
            "true, or delete + append instead")
      else require(!setCols.exists(_ == f.name),
        s"$op cannot SET identity column '${f.name}' — its values are generated")
    }

  /** refuse DML assignments that touch a generated column or any
    * column its generation expression reads — in-place rewrites cannot
    * move rows across partition dirs; [[merge]] re-derives and CAN */
  private def refuseGeneratedAssignments(schema: StructType,
      setCols: Iterable[String], op: String): Unit = {
    val gens = DeltaTransforms.generatedFields(schema)
    setCols.foreach { n =>
      gens.foreach { case (f, sql) =>
        require(f.name != n,
          s"$op cannot SET generated column '${f.name}' — its value is " +
            s"defined by `$sql`")
        require(!s"\\b${java.util.regex.Pattern.quote(n)}\\b".r
            .findFirstIn(sql).isDefined,
          s"$op cannot SET '$n': generated partition column '${f.name}' " +
            s"derives from it (`$sql`) and rows would need to move across " +
            "partition directories; use merge for relocating updates")
      }
    }
  }

  /** Append `df` as a new commit. Schema and partitioning are
    * validated against the table's latest `metaData` — a mismatched
    * append would silently corrupt the table otherwise. Generated
    * partition columns are re-derived, never trusted. */
  def append(spark: SparkSession, df: DataFrame, tablePath: String,
      partitionBy: Seq[String] = Nil): Unit = {
    val view = new LogView(spark, tablePath)
    val md = view.meta
    val declared = md.map(_.schema)
    val dfd = fillColumnDefaults(declared, df)
    declared.flatMap(identityField) match {
      case Some((f, start, step, hwm, allow)) if !dfd.columns.contains(f.name) =>
        // GENERATED identity: assign fresh values above the water mark
        // and advance it in the SAME commit's re-declared metaData
        val (ddf0, parts) = deriveGenerated(md, dfd, partitionBy)
        val (ddf, newHwm, release) = assignIdentity(spark, ddf0, f.name, start, step, hwm, allow)
        validateAgainstMeta(md, ddf, parts)
        // only the water mark moves — every other metadata key (column
        // mapping ids, comments) carries verbatim
        val newSchema = StructType(declared.get.fields.map(g =>
          if (g.name == f.name)
            g.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
              .withMetadata(g.metadata).putLong(IdHwmKey, newHwm).build())
          else g))
        val metaAction = metaDataJson(md.get.node, newSchema, md.get.partCols, md.get.config)
        try commitData(view, ddf, parts, Seq(metaAction))
        finally release()
      case Some((f, _, _, _, allow)) if !allow =>
        throw new IllegalArgumentException(
          s"identity column '${f.name}' is GENERATED ALWAYS — remove it from " +
            "the frame (values are assigned, never provided; create the table " +
            "with allowExplicitInsert = true to opt out)")
      case _ => // explicit insert allowed, or no identity column
        val (ddf, parts) = deriveGenerated(md, dfd, partitionBy)
        validateAgainstMeta(md, ddf, parts)
        commitData(view, ddf, parts)
    }
  }

  // ---- identity columns (protocol §Identity Columns, writer v6) --------

  private val IdStartKey = "delta.identity.start"
  private val IdStepKey = "delta.identity.step"
  private val IdHwmKey = "delta.identity.highWaterMark"
  private val IdAllowKey = "delta.identity.allowExplicitInsert"

  /** the schema's identity column with (start, step, highWaterMark,
    * allowExplicitInsert), if declared */
  private def identityField(schema: StructType)
      : Option[(StructField, Long, Long, Option[Long], Boolean)] =
    schema.fields.find(_.metadata.contains(IdStartKey)).map { f =>
      val m = f.metadata
      (f, m.getLong(IdStartKey), m.getLong(IdStepKey),
        if (m.contains(IdHwmKey)) Some(m.getLong(IdHwmKey)) else scala.None,
        m.contains(IdAllowKey) && m.getBoolean(IdAllowKey))
    }

  private def identityMetadata(start: Long, step: Long, hwm: Long,
      allow: Boolean): org.apache.spark.sql.types.Metadata =
    new org.apache.spark.sql.types.MetadataBuilder()
      .putLong(IdStartKey, start).putLong(IdStepKey, step)
      .putLong(IdHwmKey, hwm).putBoolean(IdAllowKey, allow).build()

  /** assign identity values `base + step·i` (i dense across this
    * write's partitions — zipWithIndex: one per-partition count pass,
    * then the indexed map; no global sort, no driver data) and stamp
    * the column's identity metadata with the advanced water mark.
    * Values are unique and strictly beyond the previous mark in step's
    * direction; gaps ACROSS appends are protocol-legal.
    *
    * The input is MATERIALIZED (persisted RDD) before anything is
    * counted: count(), zipWithIndex's internal count job and the
    * eventual parquet write would otherwise each re-evaluate the
    * plan, and a nondeterministic upstream (sample, limit, unordered
    * shuffle) could hand each pass different rows — committing a
    * high-water mark BELOW values actually written, so a later append
    * would mint duplicates. Returned third element releases the cache;
    * callers invoke it AFTER the commit (the output reads the cached
    * partitions). */
  private def assignIdentity(spark: SparkSession, df: DataFrame, idCol: String,
      start: Long, step: Long, prevHwm: Option[Long],
      allow: Boolean): (DataFrame, Long, () => Unit) = {
    val base = prevHwm.map(h => Math.addExact(h, step)).getOrElse(start)
    val rdd = df.rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = rdd.count()
    val newHwm =
      if (n == 0L) prevHwm.getOrElse(Math.subtractExact(start, step))
      else Math.addExact(base, Math.multiplyExact(step, n - 1))
    val field = StructField(idCol, LongType, nullable = false,
      metadata = identityMetadata(start, step, newHwm, allow))
    val out = spark.createDataFrame(
      rdd.zipWithIndex().map { case (r, i) =>
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (base + step * i)) },
      StructType(df.schema.fields :+ field))
    (out, newHwm, () => { rdd.unpersist(blocking = false); () })
  }

  /** CREATE with an IDENTITY column `idCol` (LongType) APPENDED to the
    * schema — the protocol's Identity Columns (writer feature
    * `identityColumns`): values are GENERATED (`start`, then
    * `+step` per row) unless `allowExplicitInsert`, the high-water mark
    * lives in the column's `delta.identity.highWaterMark` metadata and
    * advances with every [[append]] in the same commit. Two commits:
    * the data (identity metadata rides commit 0's schemaString) and the
    * protocol upgrade listing the feature. DML that preserves rows
    * (delete, DV ops, compact) works as-is; [[merge]]/[[updateWhere]]
    * refuse to fabricate or overwrite identity values unless explicit
    * inserts are allowed. */
  def createWithIdentity(spark: SparkSession, df: DataFrame, tablePath: String,
      idCol: String, start: Long = 1L, step: Long = 1L,
      allowExplicitInsert: Boolean = false,
      partitionBy: Seq[String] = Nil): Unit = {
    require(step != 0L, "identity step must be nonzero")
    require(!df.columns.contains(idCol),
      s"the frame already has '$idCol' — identity values are generated, not provided")
    val view = new LogView(spark, tablePath)
    require(!view.exists, s"Delta log already exists at $tablePath — use append")
    val (ddf0, parts) = withGenerated(df, partitionBy)
    val (ddf, _, release) = assignIdentity(spark, ddf0, idCol, start, step,
      prevHwm = scala.None, allow = allowExplicitInsert)
    // identity is a writer-6 capability: the feature protocol rides
    // IN commit 0 — a separate upgrade commit would leave a window
    // where the table carries delta.identity.* schema metadata
    // without the feature gate, letting a non-identity-aware writer
    // that wins commit 1 append without maintaining the water mark
    val pact = featureProtocolAction(scala.None, Seq("identityColumns"))
    try commitData(view, ddf, parts, createHeader(ddf, parts, pact.headOption), at = Some(0L))
    finally release()
  }

  /** APPEND WITH SCHEMA EVOLUTION (the mergeSchema contract): columns
    * of `df` the table lacks are ADDED to the table schema (nullable,
    * after the existing columns); columns the table has but `df`
    * lacks ride along as NULLs; existing columns must keep their
    * EXACT types — silent widening would corrupt downstream
    * consumers, so a type change is a loud error, never a coercion.
    * The commit re-declares the merged metaData, and readers resolve
    * old files' missing columns to NULL (by-name parquet resolution),
    * so NO existing data is rewritten. Later strict [[append]]s
    * validate against the EVOLVED schema. */
  def appendEvolve(spark: SparkSession, df: DataFrame, tablePath: String,
      partitionBy: Seq[String] = Nil): Unit = {
    import org.apache.spark.sql.functions.{col, lit}
    val view = new LogView(spark, tablePath)
    require(view.exists, s"no Delta table at $tablePath — use create")
    val md = view.metaOr("")
    val (df1, partitionBy1) = deriveGenerated(Some(md), df, partitionBy)
    require(md.partCols == partitionBy1,
      s"append partitioning $partitionBy1 does not match the table's ${md.partCols}")
    val declared = md.schema
    val byName = df1.schema.fields.map(f => f.name -> f).toMap
    identityField(declared).foreach { case (f, _, _, _, allow) =>
      require(allow && byName.contains(f.name),
        s"appendEvolve on an identity table: '${f.name}' is GENERATED ALWAYS " +
          "and null-filling it would corrupt the sequence — use addColumns " +
          "to evolve the schema, then append") }
    declared.fields.foreach { f =>
      byName.get(f.name).foreach { g =>
        require(g.dataType == f.dataType,
          s"column '${f.name}' type ${g.dataType.sql} does not match the " +
            s"table's ${f.dataType.sql} — appendEvolve adds columns, it " +
            "never changes types")
      }
    }
    val (newFields, newConfig) = mappedColumns(md,
      df1.schema.fields.filterNot(f => declared.fieldNames.contains(f.name)).toSeq)
    val merged = StructType(declared.fields ++ newFields.map(_.copy(nullable = true)))
    val aligned = df1.select(merged.fields.map { f =>
      if (byName.contains(f.name)) col(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }.toSeq: _*)
    val metaAction =
      if (newFields.isEmpty) Seq.empty
      else Seq(metaDataJson(md.node, merged, partitionBy1, newConfig))
    commitData(view, aligned, partitionBy1, metaAction)
  }

  /** columns being ADDED take, on a COLUMN-MAPPED table, fresh ids and
    * fresh SYNTHETIC physical names — a reused human name could collide
    * with an old physical column left behind by renameColumn/dropColumn
    * — and the configuration's maxColumnId advances past them */
  private def mappedColumns(md: Meta,
      added: Seq[StructField]): (Seq[StructField], Map[String, String]) =
    if (!md.mapped || added.isEmpty) (added, md.config)
    else {
      val maxId = md.config.get("delta.columnMapping.maxColumnId").map(_.toLong).getOrElse(0L)
      (added.zipWithIndex.map { case (f, i) =>
        f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder().withMetadata(f.metadata)
          .putLong("delta.columnMapping.id", maxId + 1 + i)
          .putString("delta.columnMapping.physicalName",
            s"col-${java.util.UUID.randomUUID()}")
          .build())
      }, md.config + ("delta.columnMapping.maxColumnId" -> (maxId + added.length).toString))
    }

  /** ADD COLUMNS as a METADATA-ONLY commit — the schema half of
    * [[appendEvolve]] without any data: the new columns are appended
    * (nullable, after the existing fields), existing files read NULL
    * for them by-name, nothing is rewritten. Column-mapped tables
    * assign fresh ids + synthetic physical names (same rule as
    * appendEvolve). Used standalone and by [[mergeEvolve]]. */
  def addColumns(spark: SparkSession, tablePath: String,
      cols: Seq[StructField],
      defaults: Map[String, Any] = Map.empty): Unit = {
    require(cols.nonEmpty, "addColumns needs at least one column")
    require(cols.map(_.name).distinct.size == cols.size,
      "duplicate column names in addColumns")
    defaults.keys.foreach(k => require(cols.exists(_.name == k),
      s"default for '$k' names no added column"))
    val view = new LogView(spark, tablePath)
    val md = view.metaOr("")
    val declared = md.schema
    cols.foreach(f => require(!declared.fieldNames.contains(f.name),
      s"column '${f.name}' already exists"))
    // column DEFAULTS (protocol §Column Default Values, writer feature
    // allowColumnDefaults): CURRENT_DEFAULT is WRITE-time only — rows
    // written before the column existed read NULL (the protocol is
    // explicit that defaults never rewrite history; contrast Iceberg's
    // initial-default)
    val withDefaults = cols.map(f => defaults.get(f.name) match {
      case Some(v) => f.copy(metadata =
        new org.apache.spark.sql.types.MetadataBuilder().withMetadata(f.metadata)
          .putString("CURRENT_DEFAULT",
            ColumnDefaults.sqlLiteral(f.dataType, v)).build())
      case scala.None => f
    })
    val (newFields, newConfig) = mappedColumns(md, withDefaults)
    val pact =
      if (defaults.isEmpty) Seq.empty
      else featureProtocolAction(view.protocol, Seq("allowColumnDefaults"))
    commitMetaData(view, md, "ADD COLUMNS")(pact,
      StructType(declared.fields ++ newFields.map(_.copy(nullable = true))), newConfig)
  }

  /** the METADATA-ONLY commit: re-declare `md` — partitioning, id and
    * created time carried — with `schema` and `config`, after any
    * `protocol` upgrade actions */
  private def commitMetaData(view: LogView, md: Meta, operation: String)(
      protocol: Seq[String] = Nil, schema: StructType = md.schema,
      config: Map[String, String] = md.config): Unit =
    commitLog(view, Some(operation),
      protocol :+ metaDataJson(md.node, schema, md.partCols, config))

  /** fill declared columns the caller omitted that carry a
    * CURRENT_DEFAULT, in declared order (extras ride at the end for
    * appendEvolve); columns missing WITHOUT a default drop through to
    * the strict schema check's loud error */
  private def fillColumnDefaults(declared: Option[StructType],
      df: DataFrame): DataFrame = declared match {
    case Some(sch)
        if sch.fields.exists(f => !df.columns.contains(f.name) &&
          f.metadata.contains("CURRENT_DEFAULT")) =>
      import org.apache.spark.sql.functions.{col, expr}
      val extra = df.columns.filterNot(sch.fieldNames.contains)
      df.select((sch.fields.collect {
        case f if df.columns.contains(f.name) => col(f.name)
        case f if f.metadata.contains("CURRENT_DEFAULT") =>
          expr(f.metadata.getString("CURRENT_DEFAULT"))
            .cast(f.dataType).as(f.name)
      } ++ extra.map(col)).toSeq: _*)
    case _ => df
  }

  /** MERGE WITH AUTOMATIC SCHEMA EVOLUTION — the `mergeSchema` twin of
    * [[merge]]: source columns the table lacks are ADDED first
    * ([[addColumns]], metadata-only — unmatched rows in untouched files
    * read NULL for them), then the merge runs with EVOLUTION SEMANTICS
    * for table columns the source lacks: matched rows KEEP their
    * current value (filled from the target before the upsert), inserted
    * rows take NULL, and generated partition columns are re-derived as
    * always. Two commits land (the optional schema change, then the
    * merge) — same observable sequence as Delta proper, where a writer
    * racing between them sees an ordinarily-evolved table.
    *
    * Requires unique key tuples on BOTH sides when the source is
    * narrower than the table (the matched-row fill joins the current
    * table; a duplicate target key would fan the source row out and the
    * merge's own duplicate-source guard refuses loudly). Returns
    * (rowsUpdated, rowsInserted). */
  def mergeEvolve(spark: SparkSession, tablePath: String, source: DataFrame,
      keys: Seq[String], txn: Option[(String, Long)] = None): (Long, Long) = {
    import org.apache.spark.sql.functions.col
    require(keys.nonEmpty, "merge needs at least one key column")
    val declared = new LogView(spark, tablePath).metaOr("").schema
    keys.foreach { k =>
      require(source.columns.contains(k), s"merge key column '$k' is not in the source")
      require(declared.fieldNames.contains(k), s"merge key column '$k' is not in the table schema")
    }
    val srcByName = source.schema.fields.map(f => f.name -> f).toMap
    declared.fields.foreach { f =>
      srcByName.get(f.name).foreach { g =>
        require(g.dataType == f.dataType,
          s"column '${f.name}' type ${g.dataType.sql} does not match the " +
            s"table's ${f.dataType.sql} — mergeEvolve adds columns, it " +
            "never changes types")
      }
    }
    val newFields = source.schema.fields
      .filterNot(f => declared.fieldNames.contains(f.name))
    if (newFields.nonEmpty) addColumns(spark, tablePath, newFields.toSeq)
    val schemaNow = StructType(declared.fields ++ newFields.map(_.copy(nullable = true)))
    // table columns the source lacks: fill matched rows from the
    // current table (left join — unmatched source rows get NULL), but
    // never generated columns (merge re-derives those from the data)
    val genNames = DeltaTransforms.generatedFields(schemaNow).map(_._1.name).toSet
    val targetOnly = schemaNow.fieldNames
      .filterNot(source.columns.contains).filterNot(genNames.contains).toSeq
    val filled =
      if (targetOnly.isEmpty) source
      else source.join(
        DeltaScan.read(spark, tablePath).select((keys ++ targetOnly).map(col): _*),
        keys, "left")
    val ordered = filled.select(
      schemaNow.fieldNames.filter(filled.columns.contains).map(col).toSeq: _*)
    merge(spark, tablePath, ordered, keys, txn)
  }

  /** SHALLOW CLONE: a new Delta table whose commit 0 re-declares the
    * source's metaData (new table id) and ADDs every live source file
    * BY ABSOLUTE PATH — zero data copied, the spec's absolute-path add
    * form. The clone reads, time-travels (its own history), appends
    * (new files land locally), and takes DV deletes; copy-on-write
    * rewrites refuse absolute adds loudly, and vacuum NEVER deletes a
    * path outside the table root — dropping a clone can never damage
    * the source. Source DV tables refuse (their descriptors are
    * source-root-relative). The experimentation twin of Iceberg's
    * [[IcebergWrite.appendToBranch]] WAP branches. */
  def cloneShallow(spark: SparkSession, sourcePath: String, targetPath: String): Unit = {
    val view = new LogView(spark, sourcePath)
    val fs = view.fs
    requireNoRowTracking(view, "cloneShallow")
    val target = new LogView(spark, targetPath)
    require(!target.exists, s"Delta log already exists at $targetPath")
    val sourceRoot = view.root
    val liveAdds = view.liveAdds
    require(liveAdds.nonEmpty, s"no live files to clone at $sourcePath")
    val md = view.metaOr(" — cannot clone").node
    val proto = view.protocol
    val mdClone = md.deepCopy().asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    mdClone.put("id", java.util.UUID.randomUUID().toString)
    mdClone.put("createdTime", System.currentTimeMillis())
    val protoLine = proto.map(p => s"""{"protocol":${p.toString}}""").getOrElse(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""")
    val adds = liveAdds.toSeq.sortBy(_._1).map { case (rel, add) =>
      require(add.get("deletionVector") == null || add.get("deletionVector").isNull,
        s"source file $rel carries a deletion vector — DV descriptors are " +
          "source-root-relative; compact the source first, then clone")
      val a = add.deepCopy[ObjectNode]()
      // absolute paths go through the SAME percent-encoding as relative
      // adds: the reader percent-decodes every action path, so a raw
      // source path containing a literal '%' (hive-escaped partition
      // dirs) would decode to a DIFFERENT on-disk name and 404
      a.put("path", encodePath(fs.makeQualified(new Path(sourceRoot, rel)).toString))
      Carried(a)
    }
    commitLog(target, Some("CLONE"),
      Seq(protoLine, s"""{"metaData":${mdClone.toString}}"""), adds, at = Some(0L))
  }

  /** ADD a CHECK CONSTRAINT (the protocol's `delta.constraints.<name>`
    * configuration + minWriter 3): from this commit on, EVERY logical
    * write — append, evolve, txn/streaming sink, merge, update — must
    * satisfy `sqlExpr` on every row or fails loudly BEFORE any file is
    * staged. Enforcement is one `limit(1)` early-exit pass per
    * constraint per write: narrow, codegen'd, scale-free. Existing
    * rows are validated once at ADD time (same shape). */
  def addCheckConstraint(spark: SparkSession, tablePath: String,
      name: String, sqlExpr: String): Unit = {
    require(name.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"constraint name '$name' is not an identifier")
    val view = new LogView(spark, tablePath)
    val md = view.metaOr(" — cannot add a constraint")
    val key = s"delta.constraints.$name"
    require(!md.config.contains(key), s"constraint '$name' already exists")
    // existing rows must already satisfy it — loud otherwise
    val bad = DeltaScan.read(spark, tablePath)
      .filter(org.apache.spark.sql.functions.not(
        org.apache.spark.sql.functions.expr(sqlExpr)))
      .limit(1).count()
    require(bad == 0L,
      s"existing rows violate CHECK ($sqlExpr) — constraint not added")
    // CHECK constraints are a writer-3 protocol feature
    commitMetaData(view, md, "ADD CONSTRAINT")(
      Seq("""{"protocol":{"minReaderVersion":1,"minWriterVersion":3}}"""),
      config = md.config + (key -> sqlExpr))
  }

  // ---- change data feed (protocol §Add CDC File) ------------------------

  private[sources] val CdfKey = "delta.enableChangeDataFeed"

  /** ALTER TABLE SET TBLPROPERTIES: re-declare the metaData with the
    * merged configuration (schema/partitioning verbatim). Protocol-
    * gated properties have dedicated entry points with their feature
    * upgrades ([[enableChangeDataFeed]], [[enableRowTracking]], …);
    * this is for plain behavior knobs like `delta.checkpointInterval`. */
  def setProperties(spark: SparkSession, tablePath: String,
      props: Map[String, String]): Unit = {
    require(props.nonEmpty, "no properties to set")
    val view = new LogView(spark, tablePath)
    val md = view.metaOr("")
    commitMetaData(view, md, "SET TBLPROPERTIES")(config = md.config ++ props)
  }

  /** ENABLE THE CHANGE DATA FEED (table property
    * `delta.enableChangeDataFeed`, writer feature `changeDataFeed`):
    * from this commit on, every row-changing DML (update/delete/merge)
    * writes its row-level changes as parquet CHANGE FILES under
    * `_change_data/` committed via `cdc` actions in the SAME commit —
    * [[DeltaScan.readCdf]] serves them back per version. Insert-only
    * commits (append/create) may omit cdc per the protocol; readers
    * derive their inserts from the add actions. DV/row-tracking DML
    * and restore refuse on CDF tables (they cannot express their
    * changes as a complete feed here); column-mapped tables refuse
    * enablement (change files would need physical-name plumbing). */
  def enableChangeDataFeed(spark: SparkSession, tablePath: String): Unit = {
    val view = new LogView(spark, tablePath)
    val md = view.metaOr("")
    require(!md.cdf, s"change data feed is already enabled at $tablePath")
    require(!md.mapped,
      "change data feed on a column-mapped table is not supported by this writer")
    requireNoDeletionVectors(view)
    commitMetaData(view, md, "SET TBLPROPERTIES")(
      featureProtocolAction(view.protocol, Seq("changeDataFeed")),
      config = md.config + (CdfKey -> "true"))
  }

  /** stage `changes` (the table schema + `_change_type`) as parquet
    * under `_change_data/` (partitioned like the data) and return the
    * commit's `cdc` action lines — `dataChange=false` per protocol */
  private def stageCdcFiles(view: LogView, schema: StructType,
      partCols: Seq[String], changes: DataFrame): Seq[String] = {
    import org.apache.spark.sql.functions.col
    val ordered = changes.select((schema.fieldNames.map(col) :+ col("_change_type")).toSeq: _*)
    writeTable(view, ordered, scala.None, partCols, destPrefix = "_change_data").map { case (rel, size) =>
      s"""{"cdc":{"path":${jstr(encodePath(rel))},"partitionValues":{${partitionValuesJson(rel)}},"size":$size,"dataChange":false}}"""
    }
  }

  /** ops that cannot express their row changes as a complete feed
    * refuse on CDF tables instead of silently starving consumers */
  private def refuseOnCdf(view: LogView, op: String): Unit =
    require(!view.meta.exists(_.cdf),
      s"$op on a change-data-feed table would leave the feed incomplete " +
        "(no cdc actions for its row changes) — disable CDF or use the " +
        "copy-on-write DML")

  /** drop a CHECK constraint (metadata-only) */
  def dropCheckConstraint(spark: SparkSession, tablePath: String,
      name: String): Unit = {
    val view = new LogView(spark, tablePath)
    val md = view.metaOr("")
    val key = s"delta.constraints.$name"
    require(md.config.contains(key), s"no constraint '$name' at $tablePath")
    commitMetaData(view, md, "DROP CONSTRAINT")(config = md.config - key)
  }

  // ---- clustered tables (PROTOCOL §Clustered Table) --------------------

  /** Mark the table CLUSTERED by `cols` — the Delta twin of Iceberg's
    * sort orders ([[IcebergWrite.setSortOrder]]): advisory LAYOUT
    * metadata recorded once, honored by maintenance rewrites, readable
    * by every engine. Per the protocol, clustering columns live in a
    * `domainMetadata` action under the reserved `delta.clustering`
    * domain (configuration `{"clusteringColumns":[["col"],...]}`,
    * PHYSICAL names), gated by the `clustering` + `domainMetadata`
    * writer table features (writer version 7; readers are unaffected —
    * which is what makes this metadata-only commit safe on a live
    * table). [[compact]] honors it: rewritten files are range-clustered
    * and sorted by the columns, so parquet min/max prunes on them — the
    * ordering cost is paid at maintenance time, every read after gets
    * the clustering from the layout for free. `Nil` removes the domain
    * (a `removed:true` tombstone, per the protocol's domain-metadata
    * replay rule). Top-level columns only; partition columns refuse
    * (they are already the coarser layout dimension). */
  def setClusteringColumns(spark: SparkSession, tablePath: String,
      cols: Seq[String]): Unit = {
    val view = new LogView(spark, tablePath)
    val md = view.metaOr(" — cannot set clustering columns")
    val (declared, partCols) = (md.schema, md.partCols)
    require(cols.distinct.size == cols.size,
      s"duplicate clustering columns in ${cols.mkString(", ")}")
    cols.foreach { c =>
      require(declared.fieldNames.contains(c),
        s"clustering column '$c' is not a column of the table " +
          s"(columns: ${declared.fieldNames.mkString(", ")})")
      require(!partCols.contains(c),
        s"clustering column '$c' is a partition column — it already " +
          "drives the coarser directory layout")
    }
    val action =
      if (cols.isEmpty) {
        require(view.domains.contains(ClusteringDomain),
          s"no clustering columns set at $tablePath — nothing to remove")
        s"""{"domainMetadata":{"domain":${jstr(ClusteringDomain)},""" +
          s""""configuration":"","removed":true}}"""
      } else {
        // the protocol stores PHYSICAL name paths (nested as arrays of
        // parts; this writer scopes to top-level columns)
        val phys = cols.map { c =>
          val f = declared(c)
          if (md.mapped) DeltaScan.physicalName(f) else f.name
        }
        val cfg = phys.map(p => s"[${jstr(p)}]").mkString(
          """{"clusteringColumns":[""", ",", "]}")
        s"""{"domainMetadata":{"domain":${jstr(ClusteringDomain)},""" +
          s""""configuration":${jstr(cfg)},"removed":false}}"""
      }
    commitLog(view, Some(if (cols.isEmpty) "DROP CLUSTER BY" else "CLUSTER BY"),
      featureProtocolAction(view.protocol, Seq("clustering", "domainMetadata")) :+ action)
  }

  private[sources] val ClusteringDomain = "delta.clustering"

  /** commit ONE domain-metadata action at an EXPLICIT version (with
    * the domainMetadata protocol gate) — the transactional
    * table-scoped key-value channel clustering uses, reused by the
    * graft ANALYZE stats ([[DeltaNdv]]). Pinning the version makes
    * read-compute-commit flows exact: a concurrent commit taking the
    * slot fails the CAS loudly instead of stamping stale results as
    * current. */
  private[sources] def commitDomainMetadataAt(spark: SparkSession,
      tablePath: String, domain: String, configuration: String,
      operation: String, version: Long): Unit = {
    val view = new LogView(spark, tablePath)
    val action =
      s"""{"domainMetadata":{"domain":${jstr(domain)},""" +
        s""""configuration":${jstr(configuration)},"removed":false}}"""
    commitLog(view, Some(operation),
      featureProtocolAction(view.protocol, Seq("domainMetadata")) :+ action, at = Some(version))
  }

  /** legacy minWriterVersion → the writer features it implies — when a
    * table upgrades to feature-listing writer version 7, the implied
    * features must be listed explicitly or other writers drop the
    * capabilities (protocol upgrade rule) */
  private def legacyWriterFeatures(minWriter: Int): Seq[String] = {
    val ladder = Seq(
      2 -> Seq("appendOnly", "invariants"),
      3 -> Seq("checkConstraints"),
      4 -> Seq("changeDataFeed", "generatedColumns"),
      5 -> Seq("columnMapping"),
      6 -> Seq("identityColumns"))
    ladder.filter(_._1 <= minWriter).flatMap(_._2)
  }

  /** the rows `df` writes (LOGICAL column names) must satisfy every
    * `delta.constraints.*` CHECK in `config`, in key order, then hold
    * no NULL in a `declared` non-nullable column */
  private def rowChecks(df: DataFrame, config: Map[String, String],
      declared: StructType): Seq[LakeSupport.RowCheck] =
    config.toSeq.sortBy(_._1).collect { case (k, sqlExpr) if k.startsWith("delta.constraints.") =>
      LakeSupport.RowCheck(
        s"write violates CHECK constraint ${k.stripPrefix("delta.constraints.")} " +
          s"($sqlExpr) — nothing committed",
        org.apache.spark.sql.functions.not(org.apache.spark.sql.functions.expr(sqlExpr)))
    } ++ LakeSupport.requiredCheck(df, declared, "non-nullable")

  /** absolute add path (leading '/' or a URI scheme — note qualified
    * local URIs are `file:/x`, a SINGLE slash) */
  private def isAbsolutePath(p: String): Boolean =
    p.startsWith("/") || p.matches("^[A-Za-z][A-Za-z0-9+.\\-]*:/.*")

  /** copy-on-write rewrites regroup victims by their path's partition
    * directory and stage new files under it — an ABSOLUTE add (a
    * shallow clone's pointer into the source table) would stage into
    * the SOURCE tree. Refuse loudly. */
  private def requireNoAbsoluteAdds(view: LogView, op: String): Unit = {
    val abs = view.live.filter(isAbsolutePath)
    require(abs.isEmpty,
      s"$op does not support tables with absolute-path adds (a shallow " +
        s"clone?): ${abs.take(3).mkString(", ")} — operate on the source " +
        "table, or append+compact locally first")
  }

  /** RENAME a top-level column WITHOUT rewriting any data — the Delta
    * `columnMapping` protocol path: logical names live only in the
    * metaData, each column's `physicalName` pins its on-disk parquet
    * name forever. First use upgrades the table (mode=name; existing
    * columns take their current name as the physical name, so every
    * already-written file stays readable), a pure metadata commit.
    * At 100 TB this is THE way to rename: zero data movement.
    * Partition columns refuse (their physical name is baked into the
    * hive path layout); top-level columns only. */
  def renameColumn(spark: SparkSession, tablePath: String,
      from: String, to: String): Unit =
    alterMapped(spark, tablePath, s"renameColumn($from -> $to)") { (schema, partCols) =>
      require(schema.fieldNames.contains(from), s"no column '$from' to rename")
      require(!schema.fieldNames.contains(to), s"column '$to' already exists")
      require(!partCols.contains(from),
        s"'$from' is a partition column — its physical name is the hive " +
          "path layout; repartition into a new table to rename it")
      requireNotGenerationSource(schema, from, "rename")
      StructType(schema.fields.map(f => if (f.name == from) f.copy(name = to) else f))
    }

  /** unlike Iceberg (spec fields reference a source-id, names are
    * free), a Delta generation EXPRESSION names its source column
    * textually — renaming or dropping the source would leave every
    * writer unable to evaluate the expression; refuse loudly */
  private def requireNotGenerationSource(schema: StructType, name: String,
      op: String): Unit =
    DeltaTransforms.generatedFields(schema).foreach { case (f, sql) =>
      require(s"\\b${java.util.regex.Pattern.quote(name)}\\b".r
          .findFirstIn(sql).isEmpty,
        s"cannot $op '$name': generated column '${f.name}' derives from it " +
          s"(`$sql`) — rewrite into a table without that generated column first")
    }

  /** DROP a top-level column without rewriting any data (the dropped
    * physical column stays in old files, invisible behind the mapping;
    * a later appendEvolve re-adding the same LOGICAL name gets a fresh
    * physical name, so the orphaned bytes can never resurface). */
  def dropColumn(spark: SparkSession, tablePath: String, name: String): Unit =
    alterMapped(spark, tablePath, s"dropColumn($name)") { (schema, partCols) =>
      require(schema.fieldNames.contains(name), s"no column '$name' to drop")
      require(!partCols.contains(name),
        s"'$name' is a partition column — repartition into a new table to drop it")
      requireNotGenerationSource(schema, name, "drop")
      require(schema.length > 1, "cannot drop the last column")
      StructType(schema.fields.filterNot(_.name == name))
    }

  /** shared rename/drop core: enable columnMapping if needed (ids +
    * physical names + protocol upgrade preserving existing features),
    * apply the schema transform, commit ONE metadata-only version */
  private def alterMapped(spark: SparkSession, tablePath: String, op: String)(
      xform: (StructType, Seq[String]) => StructType): Unit = {
    val view = new LogView(spark, tablePath)
    val md = view.metaOr(s" — cannot $op")
    val (declared, partCols, config) = (md.schema, md.partCols, md.config)
    val alreadyMapped = md.mapped
    val (mappedSchema, maxId) =
      if (alreadyMapped)
        (declared, config.get("delta.columnMapping.maxColumnId")
          .map(_.toLong).getOrElse(declared.length.toLong))
      else (StructType(declared.fields.zipWithIndex.map { case (f, i) =>
        f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder().withMetadata(f.metadata)
          .putLong("delta.columnMapping.id", i + 1L)
          .putString("delta.columnMapping.physicalName", f.name)
          .build())
      }), declared.length.toLong)
    val next = xform(mappedSchema, partCols)
    // a CHECK constraint referencing a renamed/dropped column would make
    // EVERY later write fail analysis on the stale name (the CHECK row
    // checks resolve the stored expr against the new schema) — refuse up front,
    // matching Delta's ALTER TABLE behavior; drop the constraint first
    val gone = declared.fieldNames.map(_.toLowerCase).toSet --
      next.fieldNames.map(_.toLowerCase).toSet
    if (gone.nonEmpty) config.toSeq.sortBy(_._1).foreach { case (k, ex) =>
      if (k.startsWith("delta.constraints.")) {
        val refs = spark.sessionState.sqlParser.parseExpression(ex).collect {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
            a.nameParts.head.toLowerCase
        }.toSet
        val hit = refs.intersect(gone)
        require(hit.isEmpty,
          s"cannot $op: CHECK constraint " +
            s"'${k.stripPrefix("delta.constraints.")}' ($ex) references " +
            s"column(s) ${hit.mkString(", ")} — drop the constraint first")
      }
    }
    val newConfig = config ++ Map(
      "delta.columnMapping.mode" -> "name",
      "delta.columnMapping.maxColumnId" -> maxId.toString)

    // protocol: legacy (2,5) carries columnMapping implicitly; a table
    // already on reader 3 (table features) gets the feature ADDED with
    // everything it has preserved
    val protoLine: Option[String] =
      if (alreadyMapped) scala.None
      else {
        val proto = view.protocol
        val minReader = proto.flatMap(p => Option(p.get("minReaderVersion")))
          .map(_.asInt()).getOrElse(1)
        def feats(name: String): Seq[String] = proto.toSeq.flatMap(p =>
          Option(p.get(name)).filter(_.isArray)
            .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Seq.empty))
        if (minReader < 3)
          Some("""{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""")
        else {
          def arr(xs: Seq[String]) = xs.map(jstr).mkString("[", ",", "]")
          val r = (feats("readerFeatures") :+ "columnMapping").distinct.sorted
          val w = (feats("writerFeatures") :+ "columnMapping").distinct.sorted
          Some(s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
            s""""readerFeatures":${arr(r)},"writerFeatures":${arr(w)}}}""")
        }
      }
    commitMetaData(view, md, "ALTER COLUMN MAPPING")(protoLine.toSeq, next, newConfig)
  }

  /** a metaData action line carrying `schema`/`partCols`/`config`, id
    * and createdTime from the previous metaData */
  private def metaDataJson(prev: com.fasterxml.jackson.databind.JsonNode,
      schema: StructType, partCols: Seq[String],
      config: Map[String, String]): String = {
    val cfg = config.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${jstr(k)}:${Option(v).fold("null")(jstr)}" }.mkString(",")
    s"""{"metaData":{"id":${jstr(Option(prev.get("id")).map(_.asText())
        .getOrElse(java.util.UUID.randomUUID().toString))},""" +
      s""""format":{"provider":"parquet","options":{}},""" +
      s""""schemaString":${jstr(schema.json)},""" +
      s""""partitionColumns":[${partCols.map(jstr).mkString(",")}],""" +
      s""""configuration":{$cfg},"createdTime":${Option(prev.get("createdTime"))
        .map(_.asLong()).getOrElse(System.currentTimeMillis())}}}"""
  }

  /** commit 0's protocol (`protocol`, else reader 1 / writer 2) and
    * metaData (fresh id, `df`'s schema) for a table created from `df` */
  private def createHeader(df: DataFrame, partitionBy: Seq[String],
      protocol: Option[String] = scala.None): Seq[String] = {
    // generated-column tables record the timezone their generation
    // expressions were evaluated under (graft pins UTC in every
    // entry point): readers may derive source-column bounds from a
    // partition VALUE only when the write TZ is known — CAST(ts AS
    // DATE)/year(ts) are session-TZ-dependent on TimestampType, so
    // a foreign table without this property must not source-prune
    // those shapes ([[DeltaScan]] checks it)
    val cfg =
      if (DeltaTransforms.generatedFields(df.schema).isEmpty) Map.empty[String, String]
      else Map(DeltaTransforms.WriteTimezoneKey -> "UTC")
    Seq(protocol.getOrElse("""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}"""),
      metaDataJson(mapper.createObjectNode(), df.schema, partitionBy, cfg))
  }

  /** [[create]]/[[append]] carrying a `txn` action (the public
    * protocol's application transaction identifier): the commit records
    * `{appId, version}` in the log, and [[lastTxnVersion]] recovers the
    * highest committed version for that appId — the EXACTLY-ONCE
    * handshake a streaming sink needs (a micro-batch re-delivered after
    * a crash between commit and checkpoint advance is detected and
    * skipped instead of double-appended). */
  def createWithTxn(spark: SparkSession, df: DataFrame, tablePath: String,
      appId: String, txnVersion: Long, partitionBy: Seq[String] = Nil): Unit = {
    val view = new LogView(spark, tablePath)
    require(!view.exists, s"Delta log already exists at $tablePath — use appendWithTxn")
    val (ddf, parts) = withGenerated(df, partitionBy)
    commitData(view, ddf, parts, createHeader(ddf, parts),
      txn = Some((appId, txnVersion)), at = Some(0L))
  }

  /** see [[createWithTxn]] */
  def appendWithTxn(spark: SparkSession, df: DataFrame, tablePath: String,
      appId: String, txnVersion: Long, partitionBy: Seq[String] = Nil): Unit = {
    val view = new LogView(spark, tablePath)
    val md = view.meta
    val (ddf, parts) = deriveGenerated(md, fillColumnDefaults(md.map(_.schema), df), partitionBy)
    validateAgainstMeta(md, ddf, parts)
    commitData(view, ddf, parts, txn = Some((appId, txnVersion)))
  }

  /** Newest `txn` version committed for `appId`, from the latest
    * checkpoint (when the log was checkpoint-truncated) plus the JSON
    * tail after it — [[checkpoint]] carries the newest txn per appId
    * forward exactly so this survives truncation. None if the table
    * does not exist or has no txn for the app. */
  def lastTxnVersion(spark: SparkSession, tablePath: String, appId: String): Option[Long] = {
    val view = new LogView(spark, tablePath)
    if (!view.exists) scala.None
    else view.snapshot.txns.get(appId).map(_.get("version").asLong())
  }

  /** compare (names, types) and partition columns against the LATEST
    * metaData (an [[appendEvolve]]d table validates against the
    * evolved schema, not commit 0's), from the checkpoint when the
    * JSON commits that declared it were cleaned up; skipped when the
    * table has no metaData */
  private def validateAgainstMeta(meta: Option[Meta],
      df: DataFrame, partitionBy: Seq[String]): Unit = {
    meta.foreach { md =>
      require(md.partCols == partitionBy,
        s"append partitioning $partitionBy does not match the table's ${md.partCols}")
      val declared = md.schema
      val got = df.schema
      require(
        declared.fields.map(f => (f.name, f.dataType)).toSeq ==
          got.fields.map(f => (f.name, f.dataType)).toSeq,
        s"append schema ${got.simpleString} does not match the table's ${declared.simpleString}")
    }
  }

  /** Write a parquet CHECKPOINT of the latest snapshot plus
    * `_last_checkpoint` — the log-compaction step every long-lived
    * Delta table needs: without it, readers replay every JSON commit
    * since version 0 (O(commits) metadata work per query); with it,
    * replay is one parquet read + the JSON tail. [[DeltaScan]] (and any
    * spec reader) picks it up via `_last_checkpoint`.
    *
    * The snapshot is computed by the same latest-action-per-path replay
    * the reader uses, from the previous checkpoint and the JSON commits
    * after it, so the JSON commits at or below a checkpoint may be
    * deleted: every later operation but [[vacuum]] plans from the
    * checkpoint. Checkpointing a log with a gap in that tail fails
    * loudly rather than guessing. Checkpoint rows carry the reader-required action fields (add with
    * partitionValues/size/deletionVector, metaData, protocol); like the
    * commit step, this is driver-side METADATA work proportional to the
    * live-file count, not data size. */
  def checkpoint(spark: SparkSession, tablePath: String): Unit =
    checkpointImpl(new LogView(spark, tablePath), v2 = false)

  /** V2 CHECKPOINT: the protocol's UUID-named checkpoint layout — file
    * actions land in a parquet SIDECAR under `_delta_log/_sidecars/`,
    * the top file `<v>.checkpoint.<uuid>.parquet` carries only the
    * non-file actions (protocol, metaData, per-app txn markers) plus
    * the `checkpointMetadata` row and the sidecar pointer. Readers
    * need the `v2Checkpoint` table feature, so the first call upgrades
    * the protocol (one commit, existing features preserved) — after
    * that the table is only readable by v2-aware readers, which is the
    * point of the feature gate. Functionally identical to [[checkpoint]]
    * (log truncation, txn survival); the layout is what scales: sidecars
    * shard the file manifest so a 100M-file table's checkpoint is many
    * parallel-written (and parallel-read) parts instead of one row-blob. */
  def checkpointV2(spark: SparkSession, tablePath: String): Unit =
    checkpointImpl(new LogView(spark, tablePath), v2 = true)

  /** INCREMENTAL: a new checkpoint builds from the PREVIOUS checkpoint
    * plus the JSON tail after it — O(tail), not O(history) — so a
    * long-lived table (a streaming sink committing every micro-batch)
    * checkpoints at constant cost and old JSON commits can be cleaned
    * up after each checkpoint without ever blocking the next one. The
    * tail must be gapless between the checkpoint and the head (loud
    * otherwise). The rows come from the view's snapshot
    * ([[LogView.snapshotAt]]: the reader's replay, the view's parsed
    * commits and snapshots reused) and are written on the driver
    * ([[DeltaCheckpoint]]): no Spark job. */
  private def checkpointImpl(view: LogView, v2: Boolean): Unit = {
    val version = view.version
    val snap = view.snapshotAt(version,
      refusal = ("checkpoint", "log truncated past the last checkpoint?"))

    // v2 needs the v2Checkpoint table feature: upgrade once (existing
    // features preserved; legacy minReader 2 maps to columnMapping),
    // then re-enter so the upgrade commit itself is checkpointed
    if (v2) {
      def feats(key: String): Seq[String] = snap.protocol.flatMap(p => Option(p.get(key)))
        .toSeq.flatMap(_.elements().asScala.map(_.asText()))
      val readerFeats = feats("readerFeatures")
      if (!readerFeats.contains("v2Checkpoint")) {
        val minReader = snap.protocol.flatMap(p => Option(p.get("minReaderVersion")))
          .fold(1)(_.asInt())
        val legacy = if (minReader == 2) Seq("columnMapping") else Seq.empty[String]
        val newReader = (readerFeats ++ legacy :+ "v2Checkpoint").distinct.sorted
        val newWriter = (feats("writerFeatures") ++ legacy :+ "v2Checkpoint").distinct.sorted
        def arr(xs: Seq[String]) = xs.map(jstr).mkString("[", ",", "]")
        commitLog(view, operation = scala.None,
          Seq(s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
            s""""readerFeatures":${arr(newReader)},"writerFeatures":${arr(newWriter)}}}"""),
          at = Some(version + 1))
        return checkpointImpl(view.advance(), v2) // feature present now
      }
    }

    def row(key: String)(action: JsonNode): JsonNode =
      mapper.createObjectNode().set[JsonNode](key, action)
    // newest txn PER APP rides into the checkpoint (protocol behavior:
    // exactly-once markers must survive log truncation), and so does
    // the latest state PER DOMAIN; removed tombstones drop here
    // (protocol: checkpoints carry current domain metadata only — a
    // dropped domain needs no tombstone once no JSON commit re-creates it)
    val tableRows = (snap.protocol.map(row("protocol")) ++
      snap.metaData.map(row("metaData")) ++
      snap.txns.values.map(row("txn")) ++
      snap.domains.values.filterNot(d => Option(d.get("removed")).exists(_.asBoolean(false)))
        .map(row("domainMetadata"))).toSeq
    val addRows = snap.adds.map { case (_, a) => row("add")(a) }.toSeq
    val (fs, logDir) = (view.fs, view.logDir)
    val size =
      if (!v2) {
        DeltaCheckpoint.write(fs, new Path(logDir, f"$version%020d.checkpoint.parquet"),
          DeltaCheckpoint.schema, tableRows ++ addRows)
        tableRows.size + addRows.size
      } else {
        // V2 layout: the file actions in one sidecar; the top file holds
        // the other actions, the sidecar pointer and checkpointMetadata
        val uuid = java.util.UUID.randomUUID().toString
        val sidecar = new Path(logDir, s"_sidecars/$uuid.parquet")
        val sidecarLen = DeltaCheckpoint.write(fs, sidecar, DeltaCheckpoint.schema, addRows)
        val top = tableRows ++ Seq(
          mapper.readTree(s"""{"sidecar":{"path":${jstr(s"$uuid.parquet")},""" +
            s""""sizeInBytes":$sidecarLen,""" +
            s""""modificationTime":${fs.getFileStatus(sidecar).getModificationTime}}}"""),
          mapper.readTree(s"""{"checkpointMetadata":{"version":$version}}"""))
        DeltaCheckpoint.write(fs, new Path(logDir, f"$version%020d.checkpoint.$uuid.parquet"),
          DeltaCheckpoint.v2TopSchema, top)
        top.size + addRows.size
      }
    AtomicFiles.publishUtf8(fs, new Path(logDir, "_last_checkpoint"),
      s"""{"version":$version,"size":$size}""", overwrite = true)
  }


  /** [[append]] with optimistic-concurrency RETRY: a loser of the
    * conditional-commit race re-reads the log's latest version and
    * tries the next one, up to `maxRetries` times — the standard
    * multi-writer append loop (blind appends never conflict
    * semantically, only on the version number; anything beyond
    * `maxRetries` losses signals real contention and surfaces the
    * ConcurrentModificationException to the caller). The parquet data
    * files of a lost round are already in the table directory but
    * unreferenced until a commit names them — the retry re-reads the
    * directory listing, so each round writes fresh files and the lost
    * ones are vacuum fodder, never data corruption. */
  def appendWithRetry(spark: SparkSession, df: DataFrame, tablePath: String,
      partitionBy: Seq[String] = Nil, maxRetries: Int = 5): Unit =
    LakeSupport.retryOnConflict(maxRetries)(append(spark, df, tablePath, partitionBy))

  /** test seam for the conditional-commit guard: commit at an explicit
    * log version — what a racing writer with a stale view of the log
    * does right before it loses the race */
  private[graft] def appendAt(spark: SparkSession, df: DataFrame,
      tablePath: String, version: Long): Unit =
    commitData(new LogView(spark, tablePath), df, Nil, at = Some(version))

  /** the create/append family's commit: one table-layout write and
    * one commit of its files. CHECK constraints and declared NOT NULL
    * ride that write as observed metrics (the null check is FREE when
    * the frame's own schema already proves non-nullability); a
    * violation deletes the staged files and refuses. The governing
    * metaData is the one this commit re-declares (appendEvolve, an
    * identity water mark), else the table's latest; a create (version
    * 0) has none. The version is fixed before the write, over the
    * snapshot the caller planned from. */
  private def commitData(view: LogView, df: DataFrame, partitionBy: Seq[String],
      actions: Seq[String] = Nil, txn: Option[(String, Long)] = scala.None,
      at: Option[Long] = scala.None): Unit = {
    val version = at.getOrElse(view.version + 1)
    val governing =
      if (version == 0L) scala.None else actionMeta(actions).orElse(view.meta)
    val checked = new LakeSupport.ObservedChecks(
      governing.fold(Seq.empty[LakeSupport.RowCheck])(md => rowChecks(df, md.config, md.schema)))
    val added = writeTable(view, df, governing, partitionBy, observe = checked.observe)
    LakeSupport.verifyStaged(view.fs, stagedPaths(view, added))(checked.verify())
    require(added.nonEmpty, "write produced no data files (empty input?)")
    commitLog(view, Some(if (version == 0L) "CREATE TABLE AS SELECT" else "WRITE"),
      actions, added.map(Staged.tupled), txn = txn, at = Some(version))
  }

  /** the table-layout data write, STAGE-then-MOVE ([[writeStaged]]):
    * `df`'s logical columns projected to `md`'s on-disk ones (COLUMN-
    * MAPPED tables store PHYSICAL names in parquet and in the hive
    * partition dirs; no `md` writes `df` as-is), CLUSTERED by the
    * partition columns first — one hash shuffle puts each partition
    * tuple in exactly one task, so files = touched partitions instead
    * of tasks x partitions (the small-file explosion measured at sf1 on
    * the generated layout) — and hive-partitioned under `destPrefix`.
    * `observe` attaches what rides the write (counts, row checks; see
    * [[LakeSupport.ObservedChecks]]) to the logical rows above the
    * clustering shuffle, in the write's final stage. */
  private def writeTable(view: LogView, df: DataFrame, md: Option[Meta],
      partCols: Seq[String], destPrefix: String = "",
      observe: DataFrame => DataFrame = identity): Seq[(String, Long)] = {
    val clustered = observe(WriteLayout.clusterByPartitions(view.spark, df, partCols))
    val (wdf, wparts) = md match {
      case scala.None => (clustered, partCols)
      case Some(m) =>
        (clustered.select(toPhysical(m.schema, m.mapped, m.schema.fieldNames.toSeq): _*),
          partCols.map(p => if (m.mapped) DeltaScan.physicalName(m.schema(p)) else p))
    }
    writeStaged(view.fs, view.root, destPrefix) { staging =>
      val w = wdf.write.mode("append")
      (if (wparts.nonEmpty) w.partitionBy(wparts: _*) else w).parquet(staging)
    }
  }

  /** RESTORE the table to `toVersion` as a NEW commit (the RESTORE
    * command): files live at `toVersion` but dead now are re-ADDED,
    * files live now but absent then are REMOVED — history is
    * preserved (the restore is itself a commit, so the in-between
    * versions stay time-travelable until [[vacuum]]), and the
    * re-added files must still exist on disk (loud if vacuum already
    * reclaimed them — a restore across a vacuum horizon is
    * unrecoverable in Delta proper too). Both states come from the
    * snapshot at their version, so `toVersion` needs the checkpoint at
    * or before it, or every JSON commit up to it. Returns
    * (filesReAdded, filesRemoved). */
  def restore(spark: SparkSession, tablePath: String, toVersion: Long): (Int, Int) = {
    val view = new LogView(spark, tablePath)
    val (fs, root) = (view.fs, view.root)
    refuseOnCdf(view, "restore")
    requireNoDeletionVectors(view)
    requireNoRowTracking(view, "restore")
    val cur = view.version
    require(toVersion >= 0 && toVersion <= cur,
      s"version $toVersion out of range 0..$cur for $tablePath")
    // each file live at toVersion, carried as its add there records it
    val atTarget = view.snapshotAt(toVersion)
    val target = liveAddsOf(atTarget)
    val now = view.liveAdds.keySet
    val toAdd = (target.keySet -- now).toSeq.sorted
    val toRemove = (now -- target.keySet).toSeq.sorted
    if (toAdd.isEmpty && toRemove.isEmpty) return (0, 0)
    toAdd.foreach { rel =>
      require(fs.exists(new Path(root, rel)),
        s"cannot restore $tablePath to version $toVersion: data file $rel " +
          "was already vacuumed from disk")
    }
    // RESTORE also restores the SCHEMA (delta-spark semantics): when
    // the metaData in force at toVersion differs from the current one
    // (appendEvolve in between), the restore commit re-declares it
    def declared(m: Meta) = (m.schema, m.partCols, m.config)
    val metaAction = (atTarget.metaData.map(Meta), view.meta) match {
      case (Some(old), Some(curMeta)) if declared(old) != declared(curMeta) =>
        Seq(s"""{"metaData":${old.node}}""")
      case _ => Seq.empty
    }
    commitLog(view, Some("RESTORE"), metaAction,
      toAdd.map(rel => Carried(target(rel))) ++ toRemove.map(Removed))
    (toAdd.size, toRemove.size)
  }

  /** COMPACT small files: live files under `smallFileBytes` are
    * grouped by PARTITION directory, each group's rows rewritten into
    * `targetFiles` new parquet files inside the same partition, and
    * the whole swap lands in ONE conditional commit of `remove`+`add`
    * actions with `dataChange=false` — readers see the same rows
    * before and after, `partitionValues` stay truthful (hive partition
    * columns live in the path, not the files, so per-partition
    * rewrites preserve them by construction), and a racing writer to
    * the same version fails loudly (one side retries) so the swap
    * can't lose an append. The many-small-files state this repairs is
    * exactly what incremental ingestion produces (one file per
    * micro-batch and partition). Time travel to PRE-compaction
    * versions keeps working: old files stay on disk until [[vacuum]].
    */
  def compact(spark: SparkSession, tablePath: String,
      smallFileBytes: Long = 32L << 20, targetFiles: Int = 1): Unit = {
    require(targetFiles >= 1, s"targetFiles must be >= 1, got $targetFiles")
    val view = new LogView(spark, tablePath)
    val (fs, root) = (view.fs, view.root)
    // (mapped tables compact fine: the raw-parquet rewrite is
    // column-name agnostic — physical names ride through verbatim)
    // a raw-parquet rewrite of a DV-carrying file would resurrect its
    // deleted rows (the re-add drops the descriptor) — refuse loudly
    requireNoDeletionVectors(view)
    requireNoAbsoluteAdds(view, "compact")
    val readV = view.version
    val small = view.live.filter { rel =>
      fs.getFileStatus(new Path(root, rel)).getLen < smallFileBytes
    }
    // a group = one partition directory ("" for unpartitioned)
    val groups = small
      .groupBy(rel => rel.split('/').dropRight(1).mkString("/"))
      .filter(_._2.size >= 2) // singletons: nothing to gain
    if (groups.isEmpty) return

    // HONOR the table's clustering columns (setClusteringColumns):
    // range-cluster + sort each rewritten group so parquet min/max
    // prunes on the clustered dims after the rewrite. Physical names —
    // the raw-parquet read returns them for mapped tables too. Columns
    // missing from the files (post-drop metadata) fall back to the
    // plain repartition rather than failing maintenance.
    val cluster = DeltaScan.clusteringColumns(view.domains)
    // ROW-TRACKED tables: a compaction MOVES rows, so the rewrite
    // MATERIALIZES each row's id/commit-version into the hidden
    // materialized columns (coalesced over any value an earlier
    // compaction already materialized; fresh rows compute
    // baseRowId + file position from the parquet source's own
    // `_metadata.row_index`). The new files still get fresh
    // baseRowIds from the commit stamp, as the protocol requires —
    // the materialized values win on read.
    val rtConf = view.meta.map(_.config).getOrElse(Map.empty)
    val rtOn = view.meta.exists(_.rowTracking)
    // latest add's (baseRowId, defaultRowCommitVersion) per live file
    val rtState: Map[String, (Long, Long)] =
      if (!rtOn) Map.empty
      else view.snapshot.files.collect {
        case (raw, f) if f.live && Option(f.action.get("baseRowId")).exists(!_.isNull) =>
          DeltaScan.percentDecode(raw) -> ((f.action.get("baseRowId").asLong(),
            Option(f.action.get("defaultRowCommitVersion")).map(_.asLong()).getOrElse(f.version)))
      }.toMap
    def materializeIds(src: DataFrame): DataFrame = {
      import org.apache.spark.sql.functions.{broadcast, coalesce, col, lit}
      val matId = rtConf(MatRowIdKey)
      val matCv = rtConf(MatRowCommitKey)
      import spark.implicits._
      val baseDf = broadcast(rtState.toSeq
        .map { case (rel, (b, cv)) =>
          (DeltaScan.normalizePath(new Path(root, rel).toUri.toString), b, cv)
        }.toDF("__file", "__base", "__dcv"))
      src
        .withColumn("__file",
          DeltaScan.normalizePathCol(col("_metadata.file_path")))
        .withColumn("__idx", col("_metadata.row_index"))
        .join(baseDf, Seq("__file"), "left")
        .withColumn(matId, coalesce(col(matId), col("__base") + col("__idx")))
        .withColumn(matCv, coalesce(col(matCv), col("__dcv")))
        .drop("__file", "__idx", "__base", "__dcv")
    }
    val added = groups.toSeq.sortBy(_._1).flatMap { case (partDir, rels) =>
      writeStaged(fs, root, destPrefix = partDir) { staging =>
        val paths = rels.map(r => new Path(root, r).toString)
        val src0 = spark.read.parquet(paths: _*)
        val src =
          if (!rtOn) src0
          else {
            // explicit schema: data columns + the materialized columns
            // (files that predate materialization read them as NULL —
            // default parquet schema inference would drop them when the
            // first file lacks the columns)
            val matCols = Seq(rtConf(MatRowIdKey), rtConf(MatRowCommitKey))
            val withMat = StructType(
              src0.schema.fields.filterNot(f => matCols.contains(f.name)) ++
                matCols.map(StructField(_, LongType, nullable = true)))
            materializeIds(spark.read.schema(withMat).parquet(paths: _*))
          }
        val shaped =
          if (cluster.nonEmpty && cluster.forall(src.columns.contains)) {
            import org.apache.spark.sql.functions.col
            src.repartitionByRange(targetFiles, cluster.map(col): _*)
              .sortWithinPartitions(cluster.map(col): _*)
          } else src.repartition(targetFiles)
        shaped.write.mode("append").parquet(staging)
      }
    }
    require(added.nonEmpty, "compaction rewrite produced no files")
    val removed = groups.values.flatten.toSeq.sorted
    // reads only the named small files — concurrent appends commute
    commitLog(view, Some("OPTIMIZE"),
      files = added.map(Staged.tupled) ++ removed.map(Removed), dataChange = false,
      scope = Some(CommitScope("OPTIMIZE", readV, removed.toSet,
        readsWholeTable = false, pred = scala.None)))
  }

  // ---- row-level DELETE / MERGE (copy-on-write) -----------------------

  /** One operation's view of a Delta table's log: `_delta_log` is
    * listed once and each commit JSON parsed at most once, on first
    * use. It answers what an operation plans from — the table at a
    * version ([[snapshotAt]]: the last checkpoint at or before it, then
    * the JSON commits after it, through [[DeltaScan.snapshot]]), and
    * from that the metaData, protocol, metadata domains and live files.
    * A view is built per operation and never kept across operations; a
    * retrying commit [[advance]]s it, and the advanced view reuses the
    * parsed commits and the snapshots already built. */
  private final class LogView(val spark: SparkSession, val tablePath: String,
      parsed: scala.collection.mutable.Map[Long, Seq[JsonNode]] =
        scala.collection.mutable.Map.empty[Long, Seq[JsonNode]],
      snaps: scala.collection.mutable.Map[Long, DeltaScan.Snapshot] =
        scala.collection.mutable.Map.empty[Long, DeltaScan.Snapshot]) {
    val fs: FileSystem =
      new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root: Path = fs.makeQualified(new Path(tablePath))
    val logDir = new Path(root, "_delta_log")
    val log = new DeltaScan.LogFiles(fs, logDir)
    val exists: Boolean = log.exists
    /** JSON commit versions present, ascending */
    val jsonVersions: Seq[Long] = log.jsonVersions
    val present: Set[Long] = jsonVersions.toSet

    /** this log re-listed: commits the view already parsed are reused
      * (a committed JSON is immutable), newer ones parse on first use */
    def advance(): LogView = new LogView(spark, tablePath, parsed, snaps)

    /** commit `v`'s action lines */
    def commit(v: Long): Seq[JsonNode] = parsed.getOrElseUpdate(v, log.readCommit(v))

    /** latest committed version ([[DeltaScan.latestVersion]]'s rule) */
    lazy val version: Long = {
      require(log.nonEmpty, s"no Delta log found under $tablePath/_delta_log")
      log.latestVersion
    }

    /** `vs`, each required present as a JSON commit; a missing one
      * refuses as "cannot <op> …: commit … is missing (<why>)" */
    private def gapless(vs: Seq[Long],
        refusal: (String, String) = ("replay", "log truncated?")): Seq[Long] = {
      vs.foreach(v => require(present(v), s"cannot ${refusal._1} $tablePath: commit " +
        s"${log.commitPath(v)} is missing (${refusal._2})"))
      vs
    }

    /** The table at version `v`, with its file and table-level actions:
      * a snapshot this view (or the one it advanced from) already built
      * at an earlier version, extended by the commits after it, else the
      * last checkpoint at or before `v` plus the JSON commits after it.
      * Either way a gap in the commits it needs refuses loudly
      * ([[gapless]]). */
    def snapshotAt(v: Long, refusal: (String, String) = ("replay", "log truncated?"))
        : DeltaScan.Snapshot = snaps.getOrElseUpdate(v,
      snaps.keys.filter(_ < v).maxOption
        .filter(u => (u + 1 to v).forall(present)) match {
        case Some(u) => snaps(u).extended(u + 1 to v, commit)
        case scala.None =>
          val cp =
            if (log.checkpointVersions.exists(_ <= v)) log.lastCheckpoint.filter(_._1 <= v)
            else scala.None
          DeltaScan.snapshot(tablePath, log, cp, gapless(cp.fold(0L)(_._1 + 1) to v, refusal),
            commit, DeltaScan.FileKeys ++ DeltaScan.TableKeys)
      })

    /** the table at the view's version */
    lazy val snapshot: DeltaScan.Snapshot = snapshotAt(version)

    /** Every commit 0..[[version]] replayed with no checkpoint: each
      * path's last action, removes included — what [[vacuum]] needs,
      * because checkpoints carry no remove tombstones. */
    def history(): DeltaScan.Snapshot = DeltaScan.snapshot(tablePath, log, scala.None,
      gapless(0L to version), commit, DeltaScan.FileKeys)

    /** the latest metaData */
    lazy val meta: Option[Meta] = snapshot.metaData.map(Meta)

    def metaOr(why: String): Meta = meta.getOrElse(throw new IllegalStateException(
      s"no metaData at $tablePath$why"))

    /** the latest protocol */
    lazy val protocol: Option[ObjectNode] =
      snapshot.protocol.map(_.asInstanceOf[ObjectNode])

    /** live metadata domains → configuration */
    lazy val domains: Map[String, String] = {
      require(exists, s"no Delta table at $tablePath")
      snapshot.domainConfig
    }

    /** the live files at the view's version: on-disk path → its add */
    lazy val liveAdds: VectorMap[String, ObjectNode] = liveAddsOf(snapshot)

    /** the live files' on-disk paths, in log order */
    def live: Seq[String] = liveAdds.keys.toSeq
  }

  /** `s`'s live files by ON-DISK (percent-decoded, as [[DeltaScan.read]]
    * decodes) path → its add action, in log order: spec-compliant
    * writers percent-encode action paths, and the live set, existence
    * checks and vacuum's tracked set must all compare in one namespace
    * — an encoded live file must never look untracked */
  private def liveAddsOf(s: DeltaScan.Snapshot): VectorMap[String, ObjectNode] =
    VectorMap.from(s.adds.map { case (raw, add) =>
      DeltaScan.percentDecode(raw) -> add.asInstanceOf[ObjectNode] })

  /** Live table rows plus a `__uri` column naming each row's data file
    * (its `_metadata.file_path`, scheme-stripped — [[relsByUri]] maps it
    * back to the table-relative path on the driver) and `__pos`, the
    * row's ordinal in that file. Hive-partitioned tables read with
    * basePath so partition columns come back typed. */
  private def liveScan(spark: SparkSession, root: Path, schema: StructType,
      partCols: Seq[String], live: Seq[String],
      mapped: Boolean = false,
      // hidden physical long columns read ALONGSIDE the table schema
      // (row tracking's materialized columns — absent files read NULL)
      extraLongCols: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.functions._
    val abs = live.map(r => new Path(root, r).toString)
    val extraFields = extraLongCols.map(StructField(_, LongType, nullable = true))
    // column-mapped tables store PHYSICAL names in parquet AND in the
    // hive partition dirs — read physical, project back to logical at
    // the end (schema field metadata carries the physicalName mapping)
    val readSchema = StructType(
      (if (!mapped) schema.fields.toSeq
       else schema.fields.toSeq.map(f => StructField(
         DeltaScan.physicalName(f), DeltaScan.physicalType(f.dataType), f.nullable)))
        ++ extraFields)
    val dataSchema = StructType(
      schema.fields.filterNot(f => partCols.contains(f.name))
        .map(f => if (!mapped) f else StructField(
          DeltaScan.physicalName(f), DeltaScan.physicalType(f.dataType), f.nullable))
        .toSeq ++ extraFields)
    val base =
      if (partCols.isEmpty) spark.read.schema(dataSchema).parquet(abs: _*)
      else spark.read.option("basePath", root.toString).schema(readSchema)
        .parquet(abs: _*)
    // resolve `_metadata` directly on the scan relation (a projection
    // in between could hide the metadata pseudo-column)
    base
      .withColumn("__uri", DeltaScan.normalizePathCol(col("_metadata.file_path")))
      .withColumn("__pos", col("_metadata.row_index"))
      .select(schema.fields.map(f =>
        if (!mapped) col(f.name)
        else col(DeltaScan.physicalName(f)).cast(f.dataType).as(f.name)).toSeq ++
        extraLongCols.map(col) ++
        Seq(col("__uri"), col("__pos")): _*)
  }

  /** table-relative path of each of `rels` by its [[liveScan]] `__uri`.
    * `_metadata.file_path` is the file's URI form — hive-escaped dir
    * names re-encode ('%' → '%25') — so a string-munged rel would sit
    * in a DIFFERENT namespace than the log's on-disk rels and the DML
    * ops would remove or rewrite the wrong paths. `Path.toUri` gives
    * the same encoding the scan reports, so the map is built on the
    * driver from the same live list the scan reads. */
  private def relsByUri(root: Path, rels: Seq[String]): Map[String, String] = {
    val byUri = rels.map(r => DeltaScan.normalizePath(new Path(root, r).toUri.toString) -> r)
    require(byUri.map(_._1).distinct.size == rels.size,
      "live file URIs are not distinct — cannot key the rel lookup")
    byUri.toMap
  }

  /** Pass 1 of a copy-on-write DML over `rows` (a [[liveScan]] of
    * `live`, filtered to the rows the DML changes): the victim files,
    * sorted, and the number of rows ([[LakeSupport.tallyByFile]]) */
  private def victimPass(root: Path, live: Seq[String], rows: DataFrame): (Seq[String], Long) = {
    val tally = LakeSupport.tallyByFile(rows, org.apache.spark.sql.functions.col("__uri"))
    val rel = relsByUri(root, live)
    (tally.keys.map(u => rel.getOrElse(u, throw new IllegalStateException(
      s"scanned file $u is not a live file of the table — path namespace mismatch " +
        "between the scan and the log"))).toSeq.sorted, tally.values.sum)
  }

  /** the absolute paths of files [[writeTable]] staged */
  private def stagedPaths(view: LogView, staged: Seq[(String, Long)]): Seq[Path] =
    staged.map { case (rel, _) => new Path(view.root, rel) }

  /** logical column list -> the physical write projection (identity
    * when unmapped); nested logical names re-label via a positional
    * struct cast, the reverse of the reader's toLogical */
  private def toPhysical(schema: StructType, mapped: Boolean,
      names: Seq[String]): Seq[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.col
    names.map { n =>
      val f = schema(n)
      if (!mapped) col(n)
      else col(n).cast(DeltaScan.physicalType(f.dataType))
        .as(DeltaScan.physicalName(f))
    }
  }

  /** Row-level DELETE, copy-on-write: remove every current row
    * matching `cond` by rewriting ONLY the files that hold matching
    * rows — survivors rewritten beside them, untouched files
    * untouched — behind one conditional `dataChange=true` commit
    * (removes + adds). Returns the number of rows deleted; matching
    * zero rows commits nothing. SQL DELETE semantics: rows where
    * `cond` is NULL are kept.
    *
    * Scale shape: two data passes, one Spark job each. Pass 1 scans
    * the live files for matching rows and tallies them per file in
    * its tasks (driver state bounded by FILE COUNT, never rows; the
    * tally is the returned count); pass 2 rewrites only the victim
    * files. The live files come from the table's snapshot (the last
    * checkpoint plus the JSON commits after it), so a log cleaned up to
    * a checkpoint plans like a full one. Time travel to pre-delete
    * versions keeps working until [[vacuum]]. Scope: tables this
    * writer maintains (no deletion vectors — guarded loudly — and no
    * column mapping). */
  def deleteWhere(spark: SparkSession, tablePath: String,
      cond: org.apache.spark.sql.Column): Long = {
    import org.apache.spark.sql.functions._
    val view = new LogView(spark, tablePath)
    val root = view.root
    requireNoDeletionVectors(view)
    requireNoAbsoluteAdds(view, "deleteWhere")
    requireNoRowTracking(view, "deleteWhere")
    val md = view.metaOr("")
    val (schema, partCols, mapped) = (md.schema, md.partCols, md.mapped)
    val readV = view.version
    val live = view.live
    if (live.isEmpty) return 0L
    val (victims, nDeleted) = victimPass(root, live,
      liveScan(spark, root, schema, partCols, live, mapped).filter(cond))
    if (nDeleted == 0L) return 0L

    val keep = !coalesce(cond, lit(false))
    // change data feed: the deleted rows, typed 'delete', land as
    // change files in the SAME commit
    val cdcLines =
      if (!view.meta.exists(_.cdf)) Seq.empty
      else stageCdcFiles(view, schema, partCols,
        liveScan(spark, root, schema, partCols, victims, mapped)
          .filter(coalesce(cond, lit(false)))
          .select(schema.fieldNames.map(col).toSeq: _*)
          .withColumn("_change_type", lit("delete")))
    // ONE table-layout write for every victim dir (writeStaged moves
    // nested hive dirs): a per-partition-directory loop would launch one
    // Spark job per touched directory — a delete spanning D dirs paying
    // D sequential job latencies
    val added = writeTable(view,
      liveScan(spark, root, schema, partCols, victims, mapped).filter(keep)
        .select(schema.fieldNames.map(col).toSeq: _*),
      Some(md), partCols)
    commitLog(view, Some("DELETE"),
      files = added.map(Staged.tupled) ++ victims.map(Removed), cdc = cdcLines,
      dropEmpty = true, scope = Some(CommitScope("DELETE", readV, victims.toSet,
        readsWholeTable = false, pred = Some((schema, cond)))))
    nDeleted
  }

  /** Row-level UPDATE, copy-on-write: set `assignments` on every
    * current row matching `cond`, rewriting only the files that hold
    * matching rows. Every SET right-hand side sees the ORIGINAL row
    * values (one projection, SQL UPDATE semantics); rows where `cond`
    * is NULL are not updated. Partition columns cannot be assigned
    * (that moves rows across files — use [[merge]]); the assignment
    * must preserve the column's type (checked against the table
    * schema, loud otherwise). Returns the number of rows updated.
    * Same two-pass shape and scope guards as [[deleteWhere]]. */
  def updateWhere(spark: SparkSession, tablePath: String,
      cond: org.apache.spark.sql.Column,
      assignments: Seq[(String, org.apache.spark.sql.Column)]): Long = {
    import org.apache.spark.sql.functions._
    require(assignments.nonEmpty, "updateWhere needs at least one SET assignment")
    val view = new LogView(spark, tablePath)
    val root = view.root
    requireNoDeletionVectors(view)
    requireNoAbsoluteAdds(view, "updateWhere")
    requireNoRowTracking(view, "updateWhere")
    val md = view.metaOr("")
    val (schema, partCols, mapped) = (md.schema, md.partCols, md.mapped)
    val setByName = assignments.toMap
    require(setByName.size == assignments.size, "duplicate SET column")
    assignments.foreach { case (n, _) =>
      require(schema.fieldNames.contains(n), s"SET column '$n' is not in the table schema")
      require(!partCols.contains(n),
        s"SET column '$n' is a partition column — updating it moves rows " +
          "across files; use merge for key-relocating updates")
    }
    refuseGeneratedAssignments(schema, setByName.keys, "updateWhere")
    refuseIdentity(schema, "updateWhere", setByName.keys)
    val readV = view.version
    val live = view.live
    if (live.isEmpty) return 0L
    val (victims, nUpdated) = victimPass(root, live,
      liveScan(spark, root, schema, partCols, live, mapped).filter(cond))
    if (nUpdated == 0L) return 0L

    val fire = coalesce(cond, lit(false))
    val dataCols = schema.fieldNames.filterNot(partCols.contains)
    // one projection so every RHS reads pre-update values
    val projected = dataCols.map { n =>
      setByName.get(n).map(e => when(fire, e).otherwise(col(n)).as(n))
        .getOrElse(col(n))
    }
    // schema-preservation guard BEFORE any file is staged (plan-only,
    // no job): a widening coercion in a SET expression would silently
    // drift the table type otherwise
    val declared = StructType(schema.fields.filterNot(f => partCols.contains(f.name)))
    val probe = liveScan(spark, root, schema, partCols, victims.take(1), mapped)
      .select(projected.toSeq: _*).schema
    require(
      probe.fields.map(f => (f.name, f.dataType)).toSeq ==
        declared.fields.map(f => (f.name, f.dataType)).toSeq,
      s"UPDATE changes the schema to ${probe.simpleString} — " +
        s"assignments must preserve the table's ${declared.simpleString}")

    // ONE table-layout write for every victim dir, as in deleteWhere;
    // CHECK constraints + NOT NULL gate the post-update rows (logical
    // names), riding that write
    val rewritten = liveScan(spark, root, schema, partCols, victims, mapped)
      .select((projected ++ partCols.map(col)).toSeq: _*)
    val checked = new LakeSupport.ObservedChecks(view.meta.fold(
      Seq.empty[LakeSupport.RowCheck])(md =>
        rowChecks(rewritten.select(dataCols.map(col).toSeq: _*), md.config, schema)))
    val added = writeTable(view, rewritten, Some(md), partCols, observe = checked.observe)
    LakeSupport.verifyStaged(view.fs, stagedPaths(view, added))(checked.verify())

    // change data feed: pre/post images of exactly the fired rows
    val cdcLines =
      if (!view.meta.exists(_.cdf)) Seq.empty
      else {
        val fired = liveScan(spark, root, schema, partCols, victims, mapped)
          .filter(fire)
        val pre = fired.select(schema.fieldNames.map(col).toSeq: _*)
          .withColumn("_change_type", lit("update_preimage"))
        val post = fired.select(schema.fieldNames.map(n =>
            setByName.get(n).map(e => e.as(n)).getOrElse(col(n))).toSeq: _*)
          .withColumn("_change_type", lit("update_postimage"))
        stageCdcFiles(view, schema, partCols, pre.unionByName(post))
      }
    commitLog(view, Some("UPDATE"),
      files = added.map(Staged.tupled) ++ victims.map(Removed), cdc = cdcLines,
      dropEmpty = true, scope = Some(CommitScope("UPDATE", readV, victims.toSet,
        readsWholeTable = false, pred = Some((schema, cond)))))
    nUpdated
  }

  /** Row-level DELETE, merge-on-read: instead of rewriting files,
    * record the matching rows' ordinals as DELETION VECTORS (the
    * protocol's 'u'-storage RoaringBitmapArray files) and re-add each
    * victim file with its descriptor — an O(matching rows) commit that
    * never touches the data, the write-cheap twin of [[deleteWhere]]
    * (which stays the read-cheap choice: DV reads pay an anti-join).
    * Existing DVs union in; rows already dead are neither re-counted
    * nor re-listed. The commit upgrades the protocol to
    * reader 3 / writer 7 with the deletionVectors feature (readers
    * without DV support then refuse loudly instead of resurrecting
    * rows — including this library's own copy-on-write ops, which
    * refuse DV tables by design).
    *
    * Scale shape: victims aggregate per FILE (sorted ordinal arrays,
    * bounded by rows-per-file); each task writes its files' DV bins
    * EXECUTOR-side, so the driver sees only (file, descriptor) pairs —
    * bounded by victim file count. Crashed tasks may orphan
    * `deletion_vector_*.bin` files; they are never read (only
    * committed descriptors are) — same class as `.staging-*` dirs.
    * Returns the number of NEWLY deleted rows. */
  def deleteWhereDV(spark: SparkSession, tablePath: String,
      cond: org.apache.spark.sql.Column): Long = {
    import org.apache.spark.sql.functions._
    val view = new LogView(spark, tablePath)
    val root = view.root
    refuseOnCdf(view, "deleteWhereDV")
    val md = view.metaOr("")
    val (schema, partCols, mapped) = (md.schema, md.partCols, md.mapped)
    val readV = view.version
    val (liveAdds, proto) = (view.liveAdds, view.protocol)
    if (liveAdds.isEmpty) return 0L
    val live = liveAdds.keys.toSeq.sorted

    val (oldDescByRel, oldPosDf) = dvState(spark, root.toString, liveAdds)
    val victims = liveScan(spark, root, schema, partCols, live, mapped)
      .filter(cond)
      .select(col("__uri"), col("__pos"))
      .join(oldPosDf, Seq("__uri", "__pos"), "left_anti")

    val (dvAdds, nDeleted, victimFiles) =
      stageDvReAdds(spark, root.toString, liveAdds, oldDescByRel, victims)
    if (nDeleted == 0L) return 0L
    commitLog(view, Some("DELETE (DV)"), dvProtocolAction(proto), dvAdds,
      scope = Some(CommitScope("DELETE (DV)", readV, victimFiles,
        readsWholeTable = false, pred = Some((schema, cond)))))
    nDeleted
  }

  /** existing DV descriptors per live file + their dead positions as a
    * (__uri, __pos) frame — built executor-side from the descriptors
    * (bounded per task by one file's cardinality), keyed like
    * [[liveScan]] */
  private def dvState(spark: SparkSession, rootStr: String,
      liveAdds: Map[String, com.fasterxml.jackson.databind.node.ObjectNode])
      : (Map[String, DeletionVectors.Descriptor], DataFrame) = {
    val oldDescByRel: Map[String, DeletionVectors.Descriptor] =
      liveAdds.flatMap { case (rel, add) =>
        val dv = add.get("deletionVector")
        if (dv == null || dv.isNull) scala.None
        else Some(rel -> DeletionVectors.Descriptor(
          dv.get("storageType").asText(), dv.get("pathOrInlineDv").asText(),
          Option(dv.get("offset")).map(_.asInt()),
          dv.get("sizeInBytes").asInt(), dv.get("cardinality").asLong()))
      }
    val holder = new DeletionVectors.ConfHolder(spark.sparkContext.hadoopConfiguration)
    import spark.implicits._
    val uriOf = relsByUri(new Path(rootStr), liveAdds.keys.toSeq).map(_.swap)
    val oldPosDf =
      spark.sparkContext.parallelize(oldDescByRel.toSeq.map { case (rel, d) => (uriOf(rel), d) },
          math.max(1, oldDescByRel.size))
        .flatMap { case (uri, d) =>
          DeletionVectors.readPositions(holder.value, rootStr, d).map(p => (uri, p))
        }.toDF("__uri", "__pos")
    (oldDescByRel, oldPosDf)
  }

  /** per-victim-file DV union + EXECUTOR-side bin writes for a
    * (__uri, __pos) victim frame (already excluding rows dead under
    * existing DVs): returns (re-adds carrying the new descriptors,
    * newly-dead row count, victim file set). Shared by the three DV
    * DMLs. */
  private def stageDvReAdds(spark: SparkSession, rootStr: String,
      liveAdds: Map[String, com.fasterxml.jackson.databind.node.ObjectNode],
      oldDescByRel: Map[String, DeletionVectors.Descriptor],
      victims: DataFrame): (Seq[Carried], Long, Set[String]) = {
    import org.apache.spark.sql.functions._
    val holder = new DeletionVectors.ConfHolder(spark.sparkContext.hadoopConfiguration)
    // one pass: per victim file, the sorted new ordinals; DV files are
    // written INSIDE the tasks, the driver collects only descriptors
    val perFile = victims.groupBy("__uri")
      .agg(sort_array(collect_list(col("__pos"))).as("__ps"))
    val relOf = relsByUri(new Path(rootStr), liveAdds.keys.toSeq)
    val oldB = spark.sparkContext.broadcast(relOf.flatMap { case (uri, rel) =>
      oldDescByRel.get(rel).map(uri -> _) })
    import spark.implicits._
    val written: Seq[(String, String, Int, Int, Long, Long)] = perFile
      .as[(String, Seq[Long])]
      .mapPartitions { rows =>
        rows.map { case (uri, newPos) =>
          val old = oldB.value.get(uri)
            .map(d => DeletionVectors.readPositions(holder.value, rootStr, d))
            .getOrElse(Array.empty[Long])
          val union = (old ++ newPos).distinct.sorted
          val d = DeletionVectors.writeDvFile(holder.value, rootStr, union)
          (uri, d.pathOrInlineDv, d.offset.getOrElse(1), d.sizeInBytes,
            d.cardinality, newPos.length.toLong)
        }
      }.collect().toSeq // [lint:bounded] one row per VICTIM FILE, never per row
      .map(w => w.copy(_1 = relOf(w._1)))
    val adds = written.sortBy(_._1).map { case (rel, ref, off, size, card, _) =>
      val node = liveAdds(rel).deepCopy()
      node.set[com.fasterxml.jackson.databind.node.ObjectNode]("deletionVector",
        mapper.readTree(
          s"""{"storageType":"u","pathOrInlineDv":${jstr(ref)},"offset":$off,""" +
            s""""sizeInBytes":$size,"cardinality":$card}""")
          .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode])
      Carried(node)
    }
    (adds, written.map(_._6).sum, written.map(_._1).toSet)
  }

  /** the reader-3/writer-7 deletionVectors feature upgrade, when the
    * table's current protocol lacks it (readers without DV support
    * then refuse loudly instead of resurrecting rows) */
  private def dvProtocolAction(
      proto: Option[com.fasterxml.jackson.databind.node.ObjectNode]): Seq[String] = {
    val needsUpgrade = proto.forall { p =>
      p.get("minReaderVersion").asInt() < 3 ||
        !Option(p.get("readerFeatures")).exists(_.elements().asScala
          .exists(_.asText() == "deletionVectors"))
    }
    if (!needsUpgrade) Seq.empty
    else Seq("""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
      """"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}""")
  }

  /** Row-level UPDATE, merge-on-read (deletion vectors): ONE commit
    * marks every matched row dead in its file's DV and appends new
    * data files holding the updated images — write cost O(matched
    * rows), never a victim-file rewrite; the DV twin of [[updateWhere]]
    * the way [[deleteWhereDV]] twins [[deleteWhere]]. Same projection
    * semantics (every SET right-hand side sees the ORIGINAL values),
    * same partition-column and type guards, CHECK/NOT NULL constraints
    * enforced on the images. Rows already dead under existing DVs
    * neither fire nor count. Returns the number of rows updated. */
  def updateWhereDV(spark: SparkSession, tablePath: String,
      cond: org.apache.spark.sql.Column,
      assignments: Seq[(String, org.apache.spark.sql.Column)]): Long = {
    import org.apache.spark.sql.functions._
    require(assignments.nonEmpty, "updateWhereDV needs at least one SET assignment")
    val view = new LogView(spark, tablePath)
    val (fs, root) = (view.fs, view.root)
    refuseOnCdf(view, "updateWhereDV")
    val md = view.metaOr("")
    val (schema, partCols, mapped) = (md.schema, md.partCols, md.mapped)
    val setByName = assignments.toMap
    require(setByName.size == assignments.size, "duplicate SET column")
    assignments.foreach { case (n, _) =>
      require(schema.fieldNames.contains(n), s"SET column '$n' is not in the table schema")
      require(!partCols.contains(n),
        s"SET column '$n' is a partition column — updating it moves rows " +
          "across files; use merge for key-relocating updates")
    }
    refuseGeneratedAssignments(schema, setByName.keys, "updateWhereDV")
    refuseIdentity(schema, "updateWhereDV", setByName.keys)
    val readV = view.version
    val (liveAdds, proto) = (view.liveAdds, view.protocol)
    if (liveAdds.isEmpty) return 0L
    val live = liveAdds.keys.toSeq.sorted
    val (oldDescByRel, oldPosDf) = dvState(spark, root.toString, liveAdds)

    val matched = liveScan(spark, root, schema, partCols, live, mapped)
      .filter(cond)
      .join(oldPosDf, Seq("__uri", "__pos"), "left_anti")

    val (dvAdds, nUpdated, victimFiles) = stageDvReAdds(spark, root.toString,
      liveAdds, oldDescByRel, matched.select(col("__uri"), col("__pos")))
    if (nUpdated == 0L) return 0L

    val fire = coalesce(cond, lit(false))
    val dataCols = schema.fieldNames.filterNot(partCols.contains)
    // one projection so every RHS reads pre-update values (all staged
    // rows matched, but the guard keeps NULL-cond semantics airtight)
    val projected = dataCols.map { n =>
      setByName.get(n).map(e => when(fire, e).otherwise(col(n)).as(n))
        .getOrElse(col(n))
    }
    // schema-preservation guard BEFORE any file is staged (plan-only)
    val declared = StructType(schema.fields.filterNot(f => partCols.contains(f.name)))
    val probe = matched.select(projected.toSeq: _*).schema
    require(
      probe.fields.map(f => (f.name, f.dataType)).toSeq ==
        declared.fields.map(f => (f.name, f.dataType)).toSeq,
      s"UPDATE changes the schema to ${probe.simpleString} — " +
        s"assignments must preserve the table's ${declared.simpleString}")
    // CHECK constraints + NOT NULL gate the post-update images, riding
    // each directory's write
    val checks = view.meta.fold(Seq.empty[LakeSupport.RowCheck]) { md =>
      rowChecks(matched.select(projected.toSeq: _*), md.config, schema)
    }
    // images land beside their source files (partition columns are not
    // assignable, so each victim partition dir keeps its own rows)
    val written = victimFiles.toSeq.sorted
      .groupBy(r => r.split('/').dropRight(1).mkString("/"))
      .toSeq.sortBy(_._1).map { case (partDir, rels) =>
        val checked = new LakeSupport.ObservedChecks(checks)
        checked -> writeStaged(fs, root, destPrefix = partDir) { staging =>
          checked.observe(liveScan(spark, root, schema, partCols, rels, mapped)
            .filter(cond)
            .join(oldPosDf, Seq("__uri", "__pos"), "left_anti")
            .select(projected.toSeq: _*))
            .select(toPhysical(schema, mapped, dataCols.toSeq): _*)
            .write.mode("append").parquet(staging)
        }
      }
    val added = written.flatMap(_._2)
    LakeSupport.verifyStaged(fs, stagedPaths(view, added))(written.foreach(_._1.verify()))
    commitLog(view, Some("UPDATE (DV)"), dvProtocolAction(proto),
      dvAdds ++ added.map(Staged.tupled), dropEmpty = true,
      scope = Some(CommitScope("UPDATE (DV)", readV, victimFiles,
        readsWholeTable = false, pred = Some((schema, cond)))))
    nUpdated
  }

  /** MERGE (upsert) by key, merge-on-read (deletion vectors): matched
    * rows die via their files' DVs and ALL source rows land as new
    * data files — ONE commit, no victim rewrite, no survivor copy; the
    * DV twin of [[merge]]. Same source validation (schema match,
    * unique keys, NULL keys never match → insert) and constraint
    * gating; returns (updatedRows, insertedRows). */
  def mergeDV(spark: SparkSession, tablePath: String, source: DataFrame,
      keys: Seq[String], txn: Option[(String, Long)] = None): (Long, Long) = {
    import org.apache.spark.sql.functions._
    require(keys.nonEmpty, "merge needs at least one key column")
    val view = new LogView(spark, tablePath)
    val root = view.root
    refuseOnCdf(view, "mergeDV")
    val md = view.metaOr("")
    val (schema, partCols, mapped) = (md.schema, md.partCols, md.mapped)
    refuseIdentity(schema, "mergeDV")
    // generated partition columns are derived ON the source (hidden-
    // partitioning UX; merge is also the op that MOVES rows across
    // derived partition dirs — the partitioned write lands each merged
    // row in the directory its re-derived value names)
    val source1 = deriveGenerated(view.meta, source, Nil)._1
    require(
      schema.fields.map(f => (f.name, f.dataType)).toSeq ==
        source1.schema.fields.map(f => (f.name, f.dataType)).toSeq,
      s"merge source schema ${source1.schema.simpleString} does not match " +
        s"the table's ${schema.simpleString}")
    keys.foreach(k => require(schema.fieldNames.contains(k),
      s"merge key column '$k' is not in the table schema"))

    val src = source1.persist()
    try {
      val srcRows = src.count()
      if (srcRows == 0L) return (0L, 0L)
      require(src.groupBy(keys.map(col): _*).count()
        .filter(col("count") > 1).limit(1).count() == 0L,
        "merge source has duplicate key tuples — ambiguous upsert")
      val srcK = src.select(keys.map(col): _*)

      val readV = view.version
      val (liveAdds, proto) = (view.liveAdds, view.protocol)
      val live = liveAdds.keys.toSeq.sorted
      val (oldDescByRel, oldPosDf) = dvState(spark, root.toString, liveAdds)

      val matched =
        if (live.isEmpty) scala.None
        else Some(liveScan(spark, root, schema, partCols, live, mapped)
          .join(oldPosDf, Seq("__uri", "__pos"), "left_anti")
          .join(srcK, keys, "left_semi"))
      val (dvAdds, updated, victimFiles) = matched match {
        case Some(m) => stageDvReAdds(spark, root.toString, liveAdds,
          oldDescByRel, m.select(col("__uri"), col("__pos")))
        case scala.None => (Seq.empty[Carried], 0L, Set.empty[String])
      }
      // matched rows live only in victim files by construction
      val matchedSrc =
        if (victimFiles.isEmpty) 0L
        else srcK.join(
          liveScan(spark, root, schema, partCols, victimFiles.toSeq.sorted, mapped)
            .join(oldPosDf, Seq("__uri", "__pos"), "left_anti")
            .select(keys.map(col): _*), keys, "left_semi").count()
      val inserted = srcRows - matchedSrc

      // CHECK constraints + NOT NULL gate the source rows, riding the write
      val newLogical = src.select(schema.fieldNames.map(col).toSeq: _*)
      val checked = new LakeSupport.ObservedChecks(view.meta.fold(
        Seq.empty[LakeSupport.RowCheck])(md => rowChecks(newLogical, md.config, schema)))
      val added = writeTable(view, newLogical, Some(md), partCols, observe = checked.observe)
      LakeSupport.verifyStaged(view.fs, stagedPaths(view, added))(checked.verify())
      // merge read the WHOLE table — every concurrent data append conflicts
      commitLog(view, Some("MERGE (DV)"), dvProtocolAction(proto),
        dvAdds ++ added.map(Staged.tupled), txn = txn, dropEmpty = true,
        scope = Some(CommitScope("MERGE (DV)", readV, victimFiles,
          readsWholeTable = true, pred = scala.None)))
      (updated, inserted)
    } finally src.unpersist()
  }

  /** PURGE (the REORG TABLE ... APPLY (PURGE) maintenance op):
    * materialize deletion vectors by rewriting every DV-carrying live
    * file WITHOUT its dead rows, clearing the DVs — `dataChange=false`
    * on both sides (the logical view is row-preserving, so streams
    * skip the commit and CDC sees no change). After a purge the
    * live view carries no DVs, so [[compact]]/[[zorder]] and the
    * copy-on-write DMLs work again; the superseded DV bins and
    * pre-purge parquet are reclaimed by [[vacuum]]. This closes the DV
    * lifecycle: DV DML absorbs high-churn writes cheaply, periodic
    * purge folds the debt back into clean files. Returns
    * (filesPurged, deadRowsDropped). */
  def purge(spark: SparkSession, tablePath: String): (Int, Long) = {
    import org.apache.spark.sql.functions._
    val view = new LogView(spark, tablePath)
    val (fs, root) = (view.fs, view.root)
    requireNoAbsoluteAdds(view, "purge")
    requireNoRowTracking(view, "purge")
    val md = view.metaOr("")
    val (schema, partCols, mapped) = (md.schema, md.partCols, md.mapped)
    val readV = view.version
    val liveAdds = view.liveAdds
    val dvAdds = liveAdds.filter { case (_, add) =>
      add.get("deletionVector") != null && !add.get("deletionVector").isNull }
    if (dvAdds.isEmpty) return (0, 0L)
    val victims = dvAdds.keys.toSeq.sorted
    val dropped = dvAdds.values
      .map(_.get("deletionVector").get("cardinality").asLong()).sum

    val (_, oldPosDf) = dvState(spark, root.toString, liveAdds)
    val dataCols = schema.fieldNames.filterNot(partCols.contains)
    val added = victims.groupBy(r => r.split('/').dropRight(1).mkString("/"))
      .toSeq.sortBy(_._1).flatMap { case (partDir, rels) =>
        writeStaged(fs, root, destPrefix = partDir) { staging =>
          liveScan(spark, root, schema, partCols, rels, mapped)
            .join(oldPosDf, Seq("__uri", "__pos"), "left_anti")
            .select(toPhysical(schema, mapped, dataCols.toSeq): _*)
            .write.mode("append").parquet(staging)
        }
      }
    // row-preserving swap: dataChange=false adds (no DV) + removes;
    // reads exactly the victim files — disjoint concurrent work commutes
    commitLog(view, Some("PURGE"),
      files = added.map(Staged.tupled) ++ victims.map(Removed),
      dataChange = false, dropEmpty = true,
      scope = Some(CommitScope("PURGE", readV, victims.toSet,
        readsWholeTable = false, pred = scala.None)))
    (victims.size, dropped)
  }

  /** MERGE (upsert) by key, copy-on-write: every current row whose key
    * tuple appears in `source` is replaced by the source row; source
    * rows with no match are inserted — one conditional
    * `dataChange=true` commit rewriting only the files that hold
    * matched rows. Returns (updatedRows, insertedRows). Source key
    * tuples must be unique (an ambiguous upsert fails loudly); the
    * source schema must match the table's; NULL keys never match
    * (standard equi-join semantics — such source rows insert).
    *
    * Scale shape: two data passes. Pass 1 semi-joins the live rows
    * with the source keys and tallies the matching rows per file in
    * its tasks (driver state bounded by file count). Pass 2 writes the
    * victim files' survivors (an anti-join against the source keys)
    * plus the source with the table's own partitioning; only keys
    * meet in a shuffle ([[LakeSupport.MergeRows]]). The counts and the
    * duplicate-key guard ride that write, and a refused merge deletes
    * what it staged. Same scope guards as [[deleteWhere]]. */
  def merge(spark: SparkSession, tablePath: String, source: DataFrame,
      keys: Seq[String], txn: Option[(String, Long)] = None): (Long, Long) = {
    val (u, i, _) = mergeInternal(spark, tablePath, source, keys, txn, scala.None)
    (u, i)
  }

  /** [[merge]] WITH DELETE CLAUSES — the APPLY CHANGES shape: the
    * source carries an extra BOOLEAN `tombstone` column; matched rows
    * whose source row is tombstoned are DELETED (unmatched tombstones
    * are no-ops), everything else upserts as in [[merge]]. One commit,
    * so a CDC batch's upserts and deletes land atomically. Returns
    * (rowsUpdated, rowsInserted, rowsDeleted). */
  def mergeApply(spark: SparkSession, tablePath: String, source: DataFrame,
      keys: Seq[String], tombstone: String,
      txn: Option[(String, Long)] = None): (Long, Long, Long) =
    mergeInternal(spark, tablePath, source, keys, txn, Some(tombstone))

  private def mergeInternal(spark: SparkSession, tablePath: String,
      source: DataFrame, keys: Seq[String], txn: Option[(String, Long)],
      tombstone: Option[String]): (Long, Long, Long) = {
    import org.apache.spark.sql.functions._
    require(keys.nonEmpty, "merge needs at least one key column")
    val view = new LogView(spark, tablePath)
    val root = view.root
    requireNoDeletionVectors(view)
    requireNoAbsoluteAdds(view, "merge")
    requireNoRowTracking(view, "merge")
    val md = view.metaOr("")
    val (schema, partCols, mapped) = (md.schema, md.partCols, md.mapped)
    refuseIdentity(schema, "merge")
    // generated partition columns are derived ON the source (hidden-
    // partitioning UX; merge is also the op that MOVES rows across
    // derived partition dirs — the partitioned write lands each merged
    // row in the directory its re-derived value names)
    val source1 = deriveGenerated(view.meta, source, Nil)._1
    // ONE persist of the whole source — the data and tombstone
    // branches below both filter the same cached rows, so the
    // (possibly expensive — applyChanges feeds a CDF read + window
    // here) upstream computes once, not once per branch
    val sourceP = source1.persist()
    // tombstoned rows contribute only their keys (a delete needs no
    // payload); the data rows must carry the full table schema
    val (srcData0, tombK0) = tombstone match {
      case scala.None => (sourceP, scala.None)
      case Some(tc) =>
        require(sourceP.columns.contains(tc),
          s"tombstone column '$tc' is not in the merge source")
        require(sourceP.schema(tc).dataType == org.apache.spark.sql.types.BooleanType,
          s"tombstone column '$tc' must be BOOLEAN")
        val flag = coalesce(col(tc), lit(false))
        (sourceP.filter(!flag).drop(tc),
          Some(sourceP.filter(flag).select(keys.map(col): _*)))
    }
    require(
      schema.fields.map(f => (f.name, f.dataType)).toSeq ==
        srcData0.schema.fields.map(f => (f.name, f.dataType)).toSeq,
      s"merge source schema ${srcData0.schema.simpleString} does not match " +
        s"the table's ${schema.simpleString}")
    keys.foreach(k => require(schema.fieldNames.contains(k),
      s"merge key column '$k' is not in the table schema"))
    try {
      val allK = tombK0.fold(srcData0.select(keys.map(col): _*))(t =>
        srcData0.select(keys.map(col): _*).unionByName(t))
      val readV = view.version
      val live = view.live
      // pass 1: the files holding a row some source key (upsert or
      // tombstone) names — matched rows live only in them
      val (victims, matched) =
        if (live.isEmpty) (Seq.empty[String], 0L)
        else victimPass(root, live, liveScan(spark, root, schema, partCols, live, mapped)
          .join(allK, keys, "left_semi"))
      // pass 2: survivors + source, written with the counts and the
      // duplicate-key guard observed on the way
      val rows = new LakeSupport.MergeRows(
        Option.when(victims.nonEmpty)(liveScan(spark, root, schema, partCols, victims, mapped)),
        srcData0.select(schema.fieldNames.map(col).toSeq: _*), tombK0, keys, matched)
      // CHECK constraints + NOT NULL gate the merged rows (logical
      // names), riding the same write
      val checked = new LakeSupport.ObservedChecks(view.meta.fold(
        Seq.empty[LakeSupport.RowCheck])(md => rowChecks(rows.rows, md.config, schema)))
      val added = writeTable(view, rows.rows, Some(md), partCols,
        observe = df => checked.observe(rows.observe(df)))
      val m = LakeSupport.verifyStaged(view.fs, stagedPaths(view, added)) {
        val m = rows.metrics()
        require(m.maxPerKey <= 1L,
          "merge source has duplicate key tuples (or a key both upserted " +
            "and tombstoned) — ambiguous apply")
        checked.verify()
        m
      }
      // nothing to apply: an empty source, or only unmatched tombstones
      if (victims.isEmpty && m.sourceRows == 0L) {
        LakeSupport.discardStaged(view.fs, stagedPaths(view, added))
        return (0L, 0L, 0L)
      }
      // change data feed: matched target rows (pre), their source
      // replacements (post), unmatched source rows (insert), and
      // tombstoned matches (delete)
      val cdcLines =
        if (!view.meta.exists(_.cdf)) Seq.empty
        else stageCdcFiles(view, schema, partCols, rows.changes)
      // merge read the WHOLE table (any concurrently appended row could
      // collide with a source key and flip a not-matched INSERT into a
      // duplicate) — every concurrent data append is a conflict
      commitLog(view, Some("MERGE"),
        files = added.map(Staged.tupled) ++ victims.map(Removed), cdc = cdcLines,
        txn = txn, dropEmpty = true,
        scope = Some(CommitScope("MERGE", readV, victims.toSet,
          readsWholeTable = true, pred = scala.None)))
      (m.updated, m.inserted, m.deleted)
    } finally sourceP.unpersist()
  }

  /** INCREMENTAL CHANGE APPLICATION (the medallion hop): read the
    * SOURCE table's change feed past the last applied version and
    * apply it to the TARGET in ONE [[mergeApply]] commit — upserts
    * from the latest post-image/insert per key, deletes from delete
    * rows, EXACTLY-ONCE via the txn ledger (`appId`): the applied
    * range's end version rides the merge commit itself, and a
    * re-delivered range is skipped, never double-applied. Returns
    * (updated, inserted, deleted). */
  def applyChanges(spark: SparkSession, sourceTable: String,
      targetTable: String, keys: Seq[String],
      appId: String, startVersion: Long = 0L): (Long, Long, Long) = {
    import org.apache.spark.sql.functions._
    val latest = DeltaScan.latestVersion(spark, sourceTable)
    val from = lastTxnVersion(spark, targetTable, appId)
      .map(_ + 1L).getOrElse(startVersion)
    if (latest < from) return (0L, 0L, 0L)
    val ch = DeltaScan.readCdf(spark, sourceTable, from, latest)
    // last effective change per key wins (preimages are bookkeeping;
    // one DML per version means one effective row per key per version)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(col("_commit_version").desc)
    val last = ch.filter(col("_change_type") =!= "update_preimage")
      .withColumn("__rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    val srcApply = last
      .withColumn("__tombstone", col("_change_type") === "delete")
      .drop("_change_type", "_commit_version")
    // no isEmpty pre-check: it cost a full extra CDF-read + window pass
    // before mergeApply's own (cached) one — mergeInternal returns
    // (0,0,0) without committing on an empty change set, identically
    mergeApply(spark, targetTable, srcApply, keys, "__tombstone",
      txn = Some((appId, latest)))
  }

  /** Z-ORDER cluster the table: rewrite the LIVE data files (per
    * partition directory) with rows ordered by the bit-interleaved
    * key of `dims` ([[graft.operators.ScaleOps.zorderValue]]), swapped
    * in behind ONE conditional `dataChange=false` commit — same
    * reader-transparency contract as [[compact]]. The rewritten files
    * carry fresh footer stats, so [[DeltaScan]]'s `skippingFilter`
    * prunes on ANY dimension of the key, not just a lead sort column —
    * multi-column data skipping is the whole point of Z-ordering.
    *
    * Dimension domains are mapped to `bitsPerCol`-bit buckets by
    * EQUAL-WIDTH division of each dim's global [min, max] (one cheap
    * aggregate over the dims, never the payload): pure codegen'd
    * arithmetic per row, no per-row search. Heavily skewed dims get
    * coarser effective resolution — pre-transform (log, rank) if that
    * matters; clustering quality is a performance property, file
    * correctness never depends on it. Dims must be numeric, date, or
    * timestamp; NULLs sort to bucket 0. The rewrite is a distributed
    * range-partitioned sort per partition directory (`targetFiles`
    * output files each), never a single-task funnel.
    *
    * Scope: tables this writer maintains (no deletion vectors — a DV
    * rewrite would resurrect deleted rows; guarded loudly). Time
    * travel to pre-zorder versions keeps working until [[vacuum]]. */
  def zorder(spark: SparkSession, tablePath: String, dims: Seq[String],
      bitsPerCol: Int = 12, targetFiles: Int = 8): Unit = {
    require(dims.nonEmpty, "need at least one z-order dimension")
    require(targetFiles >= 1, s"targetFiles must be >= 1, got $targetFiles")
    require(bitsPerCol >= 1 && bitsPerCol * dims.size <= 63,
      s"bitsPerCol * nDims must fit a signed long, got $bitsPerCol * ${dims.size}")
    val view = new LogView(spark, tablePath)
    val (fs, root) = (view.fs, view.root)
    requireNoDeletionVectors(view)
    requireNoAbsoluteAdds(view, "zorder")
    requireNoRowTracking(view, "zorder")
    val readV = view.version
    val live = view.live
    require(live.nonEmpty, s"no live data files to z-order at $tablePath")
    val groups = live.groupBy(rel => rel.split('/').dropRight(1).mkString("/"))

    import org.apache.spark.sql.functions._
    // the raw read below sees PHYSICAL column names — translate the
    // caller's logical dims on a mapped table
    val physDims = if (!view.meta.exists(_.mapped)) dims else {
      val sch = view.metaOr("").schema
      dims.map { d =>
        sch.fields.find(_.name == d).map(DeltaScan.physicalName)
          .getOrElse(d) // unknown dims keep their name for the loud check below
      }
    }
    val full = spark.read.parquet(live.map(r => new Path(root, r).toString): _*)
    physDims.foreach { d =>
      val f = full.schema.fields.find(_.name == d).getOrElse(
        throw new IllegalArgumentException(
          s"z-order dim '$d' not in data columns ${full.columns.mkString(", ")} " +
            "(partition columns are already directory-pruned — z-order data columns)"))
      import org.apache.spark.sql.types._
      require(f.dataType.isInstanceOf[NumericType] || f.dataType == DateType ||
          f.dataType == TimestampType || f.dataType == TimestampNTZType,
        s"z-order dim '$d' has type ${f.dataType.simpleString}; " +
          "numeric/date/timestamp required (hash or rank strings yourself)")
    }
    // one metadata-cheap agg: global [min,max] per dim for the bucket grid
    val aggCols = physDims.flatMap(d => Seq(
      min(col(d).cast("double")).as(s"__mn_$d"), max(col(d).cast("double")).as(s"__mx_$d")))
    val bounds = full.agg(aggCols.head, aggCols.tail: _*).collect()(0) // [lint:bounded] one agg row
    val nb = 1L << bitsPerCol
    val buckets = physDims.zipWithIndex.map { case (d, i) =>
      val mn = if (bounds.isNullAt(2 * i)) 0.0 else bounds.getDouble(2 * i)
      val mx = if (bounds.isNullAt(2 * i + 1)) 0.0 else bounds.getDouble(2 * i + 1)
      if (mx <= mn) lit(0L)
      else least(lit(nb - 1), greatest(lit(0L),
        floor((col(d).cast("double") - lit(mn)) / lit((mx - mn) / nb)).cast("long")))
    }
    val z = graft.operators.ScaleOps.zorderValue(buckets, bitsPerCol)

    val added = groups.toSeq.sortBy(_._1).flatMap { case (partDir, rels) =>
      writeStaged(fs, root, destPrefix = partDir) { staging =>
        spark.read.parquet(rels.map(r => new Path(root, r).toString): _*)
          .withColumn("__graft_z", z)
          .repartitionByRange(targetFiles, col("__graft_z"))
          .sortWithinPartitions("__graft_z")
          .drop("__graft_z")
          .write.mode("append").parquet(staging)
      }
    }
    require(added.nonEmpty, "z-order rewrite produced no files")
    // rewrites exactly the live files it read — concurrent appends land
    // as files this swap never touches and commute
    commitLog(view, Some("OPTIMIZE (ZORDER)"),
      files = added.map(Staged.tupled) ++ live.sorted.map(Removed), dataChange = false,
      scope = Some(CommitScope("OPTIMIZE (ZORDER)", readV, live.toSet,
        readsWholeTable = false, pred = scala.None)))
  }

  /** the safety condition for raw-parquet rewrites is the LIVE view:
    * a file whose CURRENT add carries a deletion vector cannot be
    * rewritten from its raw parquet (the dead rows would resurrect).
    * Superseded/historic DV adds are harmless — which is what lets
    * [[purge]] re-enable the copy-on-write ops on a DV table. */
  private def requireNoDeletionVectors(view: LogView): Unit = {
    val dvFiles = view.liveAdds.collect { case (rel, add)
        if add.get("deletionVector") != null && !add.get("deletionVector").isNull => rel }
    require(dvFiles.isEmpty,
      s"table ${view.tablePath} carries LIVE deletion vectors on ${dvFiles.size} " +
        "file(s) — rewriting those files from raw parquet would resurrect " +
        "deleted rows; run purge() first to materialize the DVs")
  }

  /** hive path segments col=value → partitionValues JSON body */
  private def partitionValuesJson(rel: String): String =
    rel.split('/').dropRight(1).collect {
      case seg if seg.contains('=') =>
        val Array(k, v) = seg.split("=", 2)
        s"${jstr(k)}:${jstr(DeltaScan.percentDecode(v))}"
    }.mkString(",")

  /** VACUUM: physically delete data files whose latest log action is a
    * `remove` older than `retainMs` (default 7 days — the Delta
    * convention protecting in-flight readers and recent time travel).
    * Files still referenced by the CURRENT snapshot are never
    * touched; time travel to versions that referenced the deleted
    * files stops working, exactly as in Delta proper. It replays every
    * JSON commit from version 0 ([[LogView.history]]): checkpoints carry
    * no remove tombstones, so a log cleaned up to a checkpoint refuses
    * loudly rather than miss a removed file. Returns the
    * relative paths deleted (or that WOULD be deleted with
    * `dryRun=true`). */
  def vacuum(spark: SparkSession, tablePath: String,
      retainMs: Long = 7L * 24 * 3600 * 1000, dryRun: Boolean = false): Seq[String] = {
    require(retainMs >= 0, s"retainMs must be >= 0, got $retainMs")
    val view = new LogView(spark, tablePath)
    val (fs, root) = (view.fs, view.root)
    val cutoff = System.currentTimeMillis() - retainMs
    // every path ever logged (raw) → its last action, and the live
    // adds, by on-disk path
    val history = view.history()
    val rawLogged = history.files.keySet
    val liveAdds = liveAddsOf(history)
    val removed = history.files.toSeq
      .collect { case (raw, f) if !f.live &&
          Option(f.action.get("deletionTimestamp")).fold(0L)(_.asLong()) <= cutoff =>
        DeltaScan.percentDecode(raw) }
      .filter(rel => fs.exists(new Path(root, rel)))
    // UNTRACKED files (no log action references them at all) are
    // protocol vacuum targets too — that is where a lost
    // optimistic-concurrency round's data files end up
    // ([[appendWithRetry]]): renamed into the root, then the
    // conditional commit lost, so no add ever named them. The mtime
    // retention window protects any writer currently between its
    // move and its commit. A file counts as tracked if its DECODED,
    // RAW, or re-ENCODED name appears in the log — three namespaces
    // because external writers disagree on encoding (delta-spark
    // leaves '+' raw; pre-fix graft logged raw hive escapes), and an
    // encoding mismatch must degrade to unreclaimed space, never to
    // deleting a live data file.
    val trackedSet = rawLogged.map(DeltaScan.percentDecode)
    val orphans = listDataFiles(fs, root).collect {
      case (rel, _)
          if !trackedSet.contains(rel) && !rawLogged.contains(rel) &&
            !rawLogged.contains(encodePath(rel)) &&
            fs.getFileStatus(new Path(root, rel)).getModificationTime <= cutoff =>
        rel
    }
    // belt-and-suspenders: whatever classified a path as doomed, a name
    // the CURRENT snapshot references is never deleted — a residual
    // encoding mismatch must degrade to unreclaimed space, not data loss
    val liveSet = liveAdds.keySet
    // a path OUTSIDE the table root (absolute adds — a shallow clone's
    // pointers into its source) is never deleted: dropping or vacuuming
    // a clone must not damage the source table
    val doomed = (removed ++ orphans).filterNot(liveSet.contains)
      .filterNot(isAbsolutePath)
    if (!dryRun) doomed.foreach(rel => fs.delete(new Path(root, rel), false))
    // crashed writers leave .staging-* dirs behind; listDataFiles hides
    // them (correctly — in-flight files must not be claimable), so
    // vacuum is the only reclamation point: delete staging dirs whose
    // mtime is past the retention window (a LIVE writer's staging dir
    // is younger than any sane retainMs)
    if (!dryRun && fs.exists(root)) {
      fs.listStatus(root).foreach { st =>
        if (st.isDirectory && st.getPath.getName.startsWith(".staging-") &&
            st.getModificationTime <= cutoff)
          fs.delete(st.getPath, true)
      }
    }
    // deletion-vector bins: live = the descriptors on the CURRENT
    // latest adds; superseded DVs (each deleteWhereDV replaces a
    // file's descriptor) and crashed tasks' orphans reclaim past the
    // window — time travel to the versions that referenced them dies
    // with them, the standard vacuum trade
    val dvDoomed: Seq[String] =
      if (!fs.exists(root)) Seq.empty
      else {
        val liveDv: Set[String] = liveAdds.values.flatMap { add =>
            val dv = add.get("deletionVector")
            if (dv == null || dv.isNull) scala.None
            else if (dv.get("storageType").asText() != "u") scala.None
            else Some(DeletionVectors.uuidFile(root.toString,
              dv.get("pathOrInlineDv").asText()).getName)
          }.toSet
        fs.listStatus(root).toSeq.collect {
          case s if !s.isDirectory &&
              s.getPath.getName.startsWith("deletion_vector_") &&
              s.getPath.getName.endsWith(".bin") &&
              !liveDv.contains(s.getPath.getName) &&
              s.getModificationTime <= cutoff =>
            if (!dryRun) fs.delete(s.getPath, false)
            s.getPath.getName
        }
      }
    doomed ++ dvDoomed
  }

  /** What a DML commit READ, for optimistic-concurrency validation:
    * the log version its plan was computed from, the live files it
    * removes/rewrites, and how wide its read was — `pred` (the DML's
    * row predicate, resolved against the LOGICAL schema) lets
    * stats-provably-disjoint concurrent appends commute;
    * `readsWholeTable` (merge: any appended row could collide with a
    * source key) makes every concurrent data append a conflict. */
  private final case class CommitScope(
      op: String,
      readVersion: Long,
      touched: Set[String],
      readsWholeTable: Boolean,
      pred: Option[(StructType, org.apache.spark.sql.Column)])

  /** OCC validation of the commits in `(fromExclusive, toInclusive]`
    * against a DML's read/write scope — the delta-spark conflict
    * rules, conservatively:
    *  - metaData / protocol changes always conflict (schema,
    *    constraints, or features may invalidate the plan);
    *  - a remove (or re-add) of a file the DML rewrites/removes
    *    conflicts (lost update otherwise);
    *  - a `dataChange=true` add conflicts when the DML read the whole
    *    table, or when its footer stats cannot PROVE the new file
    *    holds no row matching the DML's predicate (disjoint files /
    *    partitions commute — the stats check is the same pruner the
    *    reader skips with);
    *  - txn / commitInfo / cdc actions and `dataChange=false`
    *    compaction swaps of UNtouched files commute.
    * Throws ConcurrentModificationException on conflict. */
  private def checkDmlConflicts(view: LogView, scope: CommitScope,
      fromExclusive: Long, toInclusive: Long): Unit = {
    val predExpr = scope.pred.map { case (schema, c) =>
      ParquetStats.predicateExpr(view.spark, schema, c)
    }
    def conflict(v: Long, why: String): Nothing =
      throw new java.util.ConcurrentModificationException(
        s"${scope.op} (planned at version ${scope.readVersion}) conflicts " +
          s"with concurrent commit $v: $why — re-run the operation on the " +
          "current table state")
    ((fromExclusive + 1) to toInclusive).foreach { v =>
      require(view.jsonVersions.contains(v),
        s"cannot validate concurrent commit $v of ${view.root} — log truncated?")
      view.commit(v).foreach { node =>
        if (node.has("metaData")) conflict(v, "table metadata changed")
        else if (node.has("protocol")) conflict(v, "table protocol changed")
        else if (node.has("domainMetadata"))
          // a concurrent domain write (clustering declaration, row-id
          // high-watermark bump) and this DML's own stamped domain
          // cannot both be replayed blindly — conservative conflict
          conflict(v, "table domain metadata changed concurrently " +
            s"(domain ${node.get("domainMetadata").get("domain").asText()})")
        else if (node.has("remove")) {
          val rel = DeltaScan.percentDecode(node.get("remove").get("path").asText())
          if (scope.touched(rel))
            conflict(v, s"file $rel this operation rewrites/removes was " +
              "removed concurrently")
        } else if (node.has("add")) {
          val add = node.get("add")
          val rel = DeltaScan.percentDecode(add.get("path").asText())
          if (scope.touched(rel))
            conflict(v, s"file $rel this operation rewrites/removes was " +
              "rewritten concurrently")
          val dataChange = Option(add.get("dataChange")).forall(_.asBoolean())
          if (dataChange) {
            if (scope.readsWholeTable)
              conflict(v, s"data file $rel was added concurrently and this " +
                "operation read the whole table")
            predExpr.foreach { pe =>
              val st = Option(add.get("stats")).filterNot(_.isNull).map(_.asText())
              if (ParquetStats.mayMatch(st.flatMap(ParquetStats.parse), pe))
                conflict(v, s"concurrently added file $rel may hold rows " +
                  "matching this operation's predicate")
            }
          }
        }
      }
    }
  }

  /** test seam: runs between a DML's planning and its first commit
    * attempt — the deterministic way to land a racing commit inside
    * the TOCTOU window the OCC validation closes */
  private[graft] var beforeDmlCommit: () => Unit = () => ()

  /** One file action of a commit */
  private sealed trait FileAction
  /** a data file this operation staged (table-relative path, size) */
  private final case class Staged(rel: String, size: Long) extends FileAction
  /** a file re-added as the log records it */
  private final case class Carried(add: ObjectNode) extends FileAction
  /** a file the commit removes */
  private final case class Removed(rel: String) extends FileAction

  /** THE Delta commit producer: every commit is one put-if-absent log
    * record over a snapshot the operation already read. An operation
    * hands over only its non-file `actions` (protocol, metaData,
    * domainMetadata), its file actions and its `cdc` lines; the
    * producer
    *  - reads each staged file's footer once ([[stagedFiles]]);
    *  - builds every add and remove line, `dataChange` per commit;
    *  - picks the version: `at` when pinned, else the one after the
    *    view. A `scope`d commit (DML, compact, zorder, purge) runs the
    *    [[beforeDmlCommit]] seam, then on every attempt advances the
    *    view, validates the commits it has not seen
    *    ([[checkDmlConflicts]]) and commits after them, retrying a lost
    *    race up to [[MaxCommitRetries]] times. An unscoped commit makes
    *    one attempt, exactly over the snapshot it planned from, and a
    *    lost race surfaces;
    *  - stamps row tracking ([[stampRowTracking]]) and publishes
    *    `_delta_log/<v>.json` — commitInfo, `actions`, txn, file
    *    actions, `cdc` — through [[AtomicFiles]]' content-atomic
    *    conditional rename: of two writers racing to one version the
    *    second fails loudly, and no reader sees a torn commit;
    *  - auto-checkpoints.
    * The view answers the row-tracking and checkpoint decisions; this
    * commit's own metaData and protocol, when present, win. */
  private def commitLog(view: LogView, operation: Option[String],
      actions: Seq[String] = Nil, files: Seq[FileAction] = Nil,
      cdc: Seq[String] = Nil, txn: Option[(String, Long)] = scala.None,
      dataChange: Boolean = true, dropEmpty: Boolean = false,
      scope: Option[CommitScope] = scala.None, at: Option[Long] = scala.None): Unit = {
    val now = System.currentTimeMillis()
    val stats = stagedFiles(view, files.collect { case s: Staged => s }, dropEmpty)
    val fileLines = files.flatMap {
      case Staged(rel, size) => stats.get(rel).map(addLine(rel, size, now, dataChange, _))
      case Carried(add) =>
        val a = add.deepCopy[ObjectNode]()
        a.put("dataChange", dataChange)
        Some(s"""{"add":$a}""")
      case Removed(rel) => Some(removeLine(rel, now, dataChange))
    }
    val txnLines = txn.toSeq.map { case (app, v) =>
      s"""{"txn":{"appId":${jstr(app)},"version":$v,"lastUpdated":$now}}"""
    }
    val body = actions ++ txnLines ++ fileLines ++ cdc
    val ownMeta = actionMeta(actions)
    val ownProtocol = actions.filter(_.startsWith("""{"protocol"""")).lastOption
      .map(mapper.readTree(_).get("protocol"))
    var cur = view
    var checked = scope.fold(-1L)(_.readVersion)
    def advance(): Unit = scope.foreach { s =>
      cur = cur.advance()
      if (cur.version > checked) {
        checkDmlConflicts(cur, s, checked, cur.version)
        checked = cur.version
      }
    }
    if (scope.nonEmpty) beforeDmlCommit()
    advance()
    val version = LakeSupport.retryOnConflict(
        if (scope.isEmpty) 0 else MaxCommitRetries, _ => advance()) {
      val v = at.getOrElse(cur.version + 1)
      // a commitInfo with the operation name makes DESCRIBE-HISTORY-style
      // tooling (and timestamp travel) read in-commit evidence; row
      // tracking stamps inside the attempt, so a retry re-stamps from the
      // advanced view's high-water mark
      val lines = operation.map(op => s"""{"commitInfo":{"timestamp":""" +
          s"""${System.currentTimeMillis()},"operation":${jstr(op)}}}""").toSeq ++
        stampRowTracking(cur, v, ownMeta, body)
      val commitFile = new Path(cur.logDir, f"$v%020d.json")
      try AtomicFiles.publishUtf8(cur.fs, commitFile, lines.mkString("", "\n", "\n"),
        overwrite = false)
      catch {
        case e: java.io.IOException =>
          throw new java.util.ConcurrentModificationException(
            s"concurrent Delta commit detected: $commitFile already exists — " +
              "another writer committed this version; re-read the table and retry", e)
      }
      v
    }
    maybeAutoCheckpoint(cur, version, ownMeta, ownProtocol)
  }

  /** the metaData a commit's `actions` re-declare, if any */
  private def actionMeta(actions: Seq[String]): Option[Meta] =
    actions.filter(_.startsWith("""{"metaData"""")).lastOption
      .map(j => Meta(mapper.readTree(j).get("metaData")))

  /** staged file → its footer stats, from ONE footer read per file (in
    * bounded parallel — a partitioned write can emit thousands of
    * files); with `dropEmpty`, zero-row files (a victim file whose
    * every row died leaves an empty part) are deleted and left out */
  private def stagedFiles(view: LogView, staged: Seq[Staged],
      dropEmpty: Boolean): Map[String, Option[String]] = {
    val conf = view.spark.sparkContext.hadoopConfiguration
    val read = parMap(staged) { s =>
      (s.rel, readFooter(conf, new Path(view.root, s.rel))(f => ParquetStats.statsJson(f)))
    }
    val (kept, empty) = read.partition { case (_, (rows, _)) => !dropEmpty || rows > 0L }
    empty.foreach { case (rel, _) => view.fs.delete(new Path(view.root, rel), false) }
    kept.map { case (rel, (_, stats)) => rel -> stats }.toMap
  }

  /** the `add` action of a staged file: partition values from its hive
    * path, per-file footer stats — the data-skipping index
    * [[DeltaScan]] prunes with */
  private def addLine(rel: String, size: Long, now: Long, dataChange: Boolean,
      stats: Option[String]): String = {
    val st = stats.map(s => s""","stats":${jstr(s)}""").getOrElse("")
    s"""{"add":{"path":${jstr(encodePath(rel))},"partitionValues":{${partitionValuesJson(rel)}},""" +
      s""""size":$size,"modificationTime":$now,"dataChange":$dataChange$st}}"""
  }

  private def removeLine(rel: String, now: Long, dataChange: Boolean): String =
    s"""{"remove":{"path":${jstr(encodePath(rel))},"deletionTimestamp":$now,"dataChange":$dataChange}}"""

  /** suppresses the auto-checkpoint while a checkpoint itself is being
    * written (its v2 protocol-upgrade commit must not recurse) */
  private val inCheckpoint = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = false
  }

  /** AUTO-CHECKPOINT (protocol behavior `delta.checkpointInterval`,
    * default 10): after a successful commit at a version divisible by
    * the interval, write a checkpoint so a high-churn table (a CDC
    * medallion applying thousands of commits) never makes readers
    * replay O(commits) JSON — every reader pays at most one checkpoint
    * plus `interval` tail commits. Runs AFTER the commit is durable:
    * a checkpoint failure logs and proceeds (the commit itself must
    * never be failed retroactively), and the next interval boundary
    * retries incrementally. `delta.checkpointInterval = 0` disables.
    * The layout follows the table: v2 (UUID + sidecars) only when the
    * protocol already carries the v2Checkpoint feature — the auto path
    * never upgrades a protocol on its own. `view` is the log just
    * before `version`; the commit's own metaData/protocol win over it. */
  private def maybeAutoCheckpoint(view: LogView, version: Long,
      ownMeta: Option[Meta], ownProtocol: Option[JsonNode]): Unit = {
    if (version <= 0L || inCheckpoint.get()) return
    try {
      val interval = ownMeta.orElse(view.meta).flatMap(_.config.get("delta.checkpointInterval"))
        .map(_.trim.toInt).getOrElse(10)
      if (interval <= 0 || version % interval != 0L) return
      val v2 = ownProtocol.orElse(view.protocol).exists(p =>
        Option(p.get("writerFeatures")).exists(_.elements().asScala
          .exists(_.asText() == "v2Checkpoint")))
      inCheckpoint.set(true)
      try checkpointImpl(view.advance(), v2 = v2)
      finally inCheckpoint.set(false)
    } catch {
      case scala.util.control.NonFatal(e) =>
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"auto-checkpoint at version $version of ${view.root} failed " +
            "(commit is durable; the next interval retries)", e)
    }
  }

  /** STAGE-then-MOVE write: `run` writes parquet into a writer-private
    * hidden staging dir; every produced file is then renamed under
    * `root/destPrefix` and returned as (relative path, size). The
    * returned list IS the writer's add set — no directory-listing diff,
    * so a concurrent writer's in-flight files can never be
    * cross-claimed. Renames are same-volume moves on HDFS/local FS. */
  private def writeStaged(fs: FileSystem, root: Path, destPrefix: String)
      (run: String => Unit): Seq[(String, Long)] = {
    val staging = new Path(root,
      s".staging-${java.util.UUID.randomUUID().toString.take(12)}")
    // INT64 micros is the stats-bearing parquet timestamp encoding:
    // Spark's INT96 default is a deprecated legacy type with NO usable
    // column statistics, so footer-harvested `stats` would silently
    // lack timestamp bounds — costing data skipping and metadata-only
    // aggregates ([[MetaAgg]]). The reader handles both; existing
    // INT96 files stay valid.
    val sparkOpt = org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
    val tsKey = "spark.sql.parquet.outputTimestampType"
    val prevTs = sparkOpt.flatMap(_.conf.getOption(tsKey))
    sparkOpt.foreach(_.conf.set(tsKey, "TIMESTAMP_MICROS"))
    try run(staging.toString)
    finally (sparkOpt, prevTs) match {
      case (Some(s), Some(v)) => s.conf.set(tsKey, v)
      case (Some(s), scala.None) => s.conf.unset(tsKey)
      case _ => ()
    }
    def inner(dir: Path, prefix: String): Seq[(String, Long)] =
      fs.listStatus(dir).toSeq.flatMap { st =>
        val name = st.getPath.getName
        if (st.isDirectory) inner(st.getPath, s"$prefix$name/")
        else if (name.endsWith(".parquet")) Seq((s"$prefix$name", st.getLen))
        else Seq.empty
      }
    val moved = inner(staging, "").map { case (in, size) =>
      val rel = if (destPrefix.isEmpty) in else s"$destPrefix/$in"
      val dest = new Path(root, rel)
      Option(dest.getParent).foreach(fs.mkdirs)
      require(fs.rename(new Path(staging, in), dest),
        s"could not move staged data file $in into $dest")
      // rename preserves mtime, so a data phase longer than vacuum's
      // retention window would leave the moved-but-uncommitted file
      // already outside the orphan protection window; re-stamp the
      // clock at MOVE time so the window starts when the file becomes
      // visible in the root
      fs.setTimes(dest, System.currentTimeMillis(), -1)
      (rel, size)
    }
    fs.delete(staging, true)
    moved
  }

  /** all data files under the table root, as (relative path, size),
    * excluding the log dir and non-parquet markers */
  private def listDataFiles(fs: FileSystem, root: Path): Seq[(String, Long)] = {
    if (!fs.exists(root)) return Seq.empty
    val rootStr = root.toString.stripSuffix("/") + "/"
    val out = Seq.newBuilder[(String, Long)]
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val st = it.next()
      val p = st.getPath.toString
      if (p.startsWith(rootStr)) {
        val rel = p.substring(rootStr.length)
        // hidden segments (.staging-* above all) are never table data —
        // a concurrent writer's in-flight staged files must not be
        // listed as claimable
        val hidden = rel.split('/').exists(s => s.startsWith(".") || s.startsWith("_"))
        if (!hidden && rel.endsWith(".parquet"))
          out += ((rel, st.getLen))
      }
    }
    out.result()
  }

  /** on-disk relative path → spec-compliant log action path: every
    * byte outside the unreserved set percent-encodes (incl. '%' itself
    * and '+', which URLDecoder would otherwise mangle); '/' and the
    * hive 'col=value' '=' stay readable. decode(encode(x)) == x by
    * construction, so the reader's URLDecoder round-trips EXACTLY the
    * on-disk name — including names that already carry hive escapes
    * like 'ts=10%3A00' (logged as 'ts=10%253A00'). */
  private[sources] def encodePath(rel: String): String = {
    val sb = new StringBuilder(rel.length + 8)
    rel.getBytes(StandardCharsets.UTF_8).foreach { b =>
      val c = (b & 0xff).toChar
      val plain = (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
        (c >= '0' && c <= '9') || c == '/' || c == '-' || c == '_' ||
        c == '.' || c == '~' || c == '='
      if (plain) sb.append(c) else sb.append(f"%%${b & 0xff}%02X")
    }
    sb.toString
  }

  // ======================================================================
  // ROW TRACKING (Delta PROTOCOL §Row Tracking): stable per-row
  // identifiers that survive maintenance. Every add-file carries a
  // `baseRowId` and `defaultRowCommitVersion`; a row's FRESH id is
  // baseRowId + its position in the file, and rewrites that MOVE rows
  // (compact) carry the old ids forward in hidden MATERIALIZED columns
  // (table properties delta.rowTracking.materializedRowId/
  // RowCommitVersionColumnName) which readers coalesce over the fresh
  // computation. Allocation state is the `delta.rowTracking` metadata
  // domain's rowIdHighWaterMark, bumped in the same commit that
  // consumes it.
  //
  // Scale shape: id assignment is pure METADATA work — per new FILE,
  // one footer row count the commit already reads for stats; no row is
  // ever touched. The reader computes ids from the parquet source's
  // own `_metadata.row_index` (zero storage for fresh rows) and only
  // compaction pays materialization, at maintenance time.
  //
  // Semantics scope (stated loudly, enforced loudly):
  // - DV (merge-on-read) DELETE preserves ids exactly — rows never
  //   move, and the DV re-add carries the original add node verbatim.
  // - COMPACT preserves ids by materializing them into the rewritten
  //   files (fresh baseRowIds are still assigned to the new files, as
  //   the protocol requires; the materialized values win on read).
  // - updateWhereDV / mergeDV keep working: their surviving rows keep
  //   ids (DV side), their IMAGE/source rows are NEW rows and get
  //   fresh ids — row identity is not preserved across row rewrites
  //   by these ops (the protocol's unpreserved-update mode).
  // - Copy-on-write row DML (deleteWhere/updateWhere/merge), restore,
  //   purge and cloneShallow REFUSE on row-tracked tables: each would
  //   silently re-identify rows; the DV twins + compact cover the
  //   lifecycle.
  // ======================================================================

  private[sources] val RowTrackingDomain = "delta.rowTracking"
  private[sources] val EnableRowTrackingKey = "delta.enableRowTracking"
  private[sources] val MatRowIdKey = "delta.rowTracking.materializedRowIdColumnName"
  private[sources] val MatRowCommitKey =
    "delta.rowTracking.materializedRowCommitVersionColumnName"

  private def requireNoRowTracking(view: LogView, op: String): Unit =
    require(!view.meta.exists(_.rowTracking),
      s"$op would silently re-identify rows of the row-tracked table " +
        s"${view.tablePath} (row ids are not preserved through this path) — use " +
        "the deletion-vector DML twins (deleteWhereDV/updateWhereDV/mergeDV) " +
        "and compact, which preserve row identity")

  /** current rowIdHighWaterMark (-1 when unset) */
  private def rowIdHighWaterMark(view: LogView): Long =
    view.domains.get(RowTrackingDomain)
      .flatMap { cfg =>
        val node = mapper.readTree(cfg)
        Option(node.get("rowIdHighWaterMark")).map(_.asLong())
      }.getOrElse(-1L)

  /** Enable row tracking on an existing table: ONE commit carrying the
    * writer-7 `rowTracking`+`domainMetadata` protocol upgrade, the
    * metaData re-declaration with `delta.enableRowTracking=true` + the
    * materialized column-name properties, and a BACKFILL re-add of
    * every live file with its assigned `baseRowId` (dataChange=false —
    * no rows change, streams skip it), plus the high-watermark domain.
    * Existing rows get ids in path-sorted file order. Idempotent-safe:
    * enabling an already-enabled table refuses loudly. */
  def enableRowTracking(spark: SparkSession, tablePath: String): Unit = {
    val view = new LogView(spark, tablePath)
    val md = view.metaOr(" — cannot enable row tracking")
    val conf0 = md.config
    require(!md.rowTracking, s"row tracking is already enabled on $tablePath")
    val suffix = java.util.UUID.randomUUID().toString.take(8)
    val newConf = conf0 ++ Map(
      EnableRowTrackingKey -> "true",
      MatRowIdKey -> s"_rowtrack_row_id_$suffix",
      MatRowCommitKey -> s"_rowtrack_commit_version_$suffix")
    val mdNode = md.node.deepCopy[ObjectNode]()
    val cfgNode = mapper.createObjectNode()
    newConf.foreach { case (k, v) => cfgNode.put(k, v) }
    mdNode.set[com.fasterxml.jackson.databind.node.ObjectNode]("configuration", cfgNode)
    val metaAction = s"""{"metaData":${mdNode.toString}}"""
    val protoActions = featureProtocolAction(view.protocol,
      Seq("rowTracking", "domainMetadata"))
    // backfill: re-add every live file as the log records it; the
    // commit's stamp (its own metaData declares the property) assigns
    // each a baseRowId and appends the high-watermark
    val backfill = view.liveAdds.toSeq.sortBy(_._1).map(a => Carried(a._2))
    commitLog(view, Some("ENABLE ROW TRACKING"), protoActions :+ metaAction, backfill,
      dataChange = false)
  }

  /** Stamp `baseRowId` + `defaultRowCommitVersion` onto every add
    * action that lacks them, and append the bumped high-watermark
    * domain action — a no-op (identity) unless the commit's own
    * metaData (`own`) or, without one, the table `view` before it
    * declares row tracking. Row counts come from the add's own stats
    * (numRecords), falling back to one footer read — metadata-bounded,
    * never row-bounded. DV re-adds arrive with their original
    * baseRowId and pass through untouched (their rows never moved). */
  private def stampRowTracking(view: LogView, version: Long, own: Option[Meta],
      actions: Seq[String]): Seq[String] = {
    if (!own.orElse(view.meta).exists(_.rowTracking)) return actions
    val parsed = actions.map(mapper.readTree)
    val needsStamp = parsed.zipWithIndex.collect {
      case (n, i) if n.has("add") && !n.get("add").has("baseRowId") => i
    }
    if (needsStamp.isEmpty) return actions
    val conf = view.spark.sparkContext.hadoopConfiguration
    var hwm = rowIdHighWaterMark(view)
    val out = actions.toArray
    needsStamp.foreach { i =>
      val add = parsed(i).get("add")
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      val rows = Option(add.get("stats")).filterNot(_.isNull).flatMap { st =>
        Option(mapper.readTree(st.asText()).get("numRecords")).map(_.asLong())
      }.getOrElse(footerRows(conf,
        new Path(view.root, DeltaScan.percentDecode(add.get("path").asText()))))
      add.put("baseRowId", hwm + 1L)
      add.put("defaultRowCommitVersion", version)
      hwm += math.max(rows, 0L)
      out(i) = s"""{"add":${add.toString}}"""
    }
    out.toSeq :+
      (s"""{"domainMetadata":{"domain":${jstr(RowTrackingDomain)},""" +
        s""""configuration":${jstr(s"""{"rowIdHighWaterMark":$hwm}""")},"removed":false}}""")
  }

  /** Read a row-tracked table WITH its stable row identity: the table
    * columns plus `_row_id` and `_row_commit_version`. A row's id is
    * its file's materialized value when present (rows a compaction
    * moved) else `baseRowId + position` (fresh rows — zero storage);
    * DV-deleted rows are dropped and never re-id'd. Loud when row
    * tracking is not enabled. Every live file must carry a baseRowId
    * ([[enableRowTracking]] backfills; a foreign un-stamped add fails
    * loudly rather than inventing identity).
    *
    * Scale shape: the id computation is the parquet source's own
    * `_metadata.row_index` plus one BROADCAST join against the
    * file-count-bounded (file → baseRowId) map — no shuffle, no row
    * state. */
  def readWithRowIds(spark: SparkSession, tablePath: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val view = new LogView(spark, tablePath)
    val root = view.root
    val md = view.metaOr("")
    require(md.rowTracking,
      s"row tracking is not enabled on $tablePath — enableRowTracking first")
    val (conf, schema, partCols, mapped) = (md.config, md.schema, md.partCols, md.mapped)
    val liveAdds = view.liveAdds
    val outFields = schema.fieldNames.toSeq ++ Seq("_row_id", "_row_commit_version")
    if (liveAdds.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(schema.fields.toSeq ++ Seq(
          StructField("_row_id", LongType), StructField("_row_commit_version", LongType))))
    val base = liveAdds.toSeq.map { case (rel, add) =>
      val b = Option(add.get("baseRowId")).filterNot(_.isNull).map(_.asLong())
        .getOrElse(throw new IllegalStateException(
          s"live file $rel of $tablePath carries no baseRowId — a foreign " +
            "writer added it without row tracking; re-run enableRowTracking's " +
            "backfill path or repair the add"))
      val cv = Option(add.get("defaultRowCommitVersion")).filterNot(_.isNull)
        .map(_.asLong()).getOrElse(-1L)
      (rel, b, cv)
    }
    val matId = conf(MatRowIdKey)
    val matCv = conf(MatRowCommitKey)
    val live = liveAdds.keys.toSeq.sorted
    val scan = liveScan(spark, root, schema, partCols, live, mapped,
      extraLongCols = Seq(matId, matCv))
    val uriOf = relsByUri(root, live).map(_.swap)
    val baseDf = broadcast(spark.createDataFrame(base.map { case (rel, b, cv) =>
        (uriOf(rel), b, cv) })
      .toDF("__uri", "__base", "__dcv"))
    val (_, dvPosDf) = dvState(spark, root.toString, liveAdds)
    scan
      .join(baseDf, Seq("__uri"))
      .join(dvPosDf, Seq("__uri", "__pos"), "left_anti")
      .withColumn("_row_id", coalesce(col(matId), col("__base") + col("__pos")))
      .withColumn("_row_commit_version", coalesce(col(matCv), col("__dcv")))
      .select(outFields.map(col): _*)
  }

  /** generalization of the clustering upgrade: protocol action adding
    * arbitrary writer features (empty when already present) */
  private def featureProtocolAction(
      proto: Option[com.fasterxml.jackson.databind.node.ObjectNode],
      need: Seq[String]): Seq[String] = {
    val existingW = proto.toSeq.flatMap(p =>
      Option(p.get("writerFeatures")).toSeq.flatMap(_.elements().asScala
        .map(_.asText()).toSeq))
    if (need.forall(existingW.contains)) return Seq.empty
    val minReader = proto.map(_.get("minReaderVersion").asInt()).getOrElse(1)
    val minWriter = proto.map(_.get("minWriterVersion").asInt()).getOrElse(2)
    val readerFeats = proto.toSeq.flatMap(p =>
      Option(p.get("readerFeatures")).toSeq.flatMap(_.elements().asScala
        .map(_.asText()).toSeq))
    val legacyReader = if (minReader == 2 && readerFeats.isEmpty)
      Seq("columnMapping") else Seq.empty
    val w = (existingW ++
      (if (minWriter < 7) legacyWriterFeatures(minWriter) else Seq.empty) ++
      need).distinct.sorted
    def arr(xs: Seq[String]) = xs.map(jstr).mkString("[", ",", "]")
    val readerPart =
      if (readerFeats.nonEmpty || legacyReader.nonEmpty)
        s""""minReaderVersion":3,"readerFeatures":${arr((readerFeats ++ legacyReader).distinct.sorted)},"""
      else s""""minReaderVersion":$minReader,"""
    Seq(s"""{"protocol":{$readerPart"minWriterVersion":7,"writerFeatures":${arr(w)}}}""")
  }
}
