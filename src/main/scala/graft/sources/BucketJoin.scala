package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** STORAGE-PARTITIONED (bucket-aligned) JOIN + AGGREGATION — the
  * operator levers hidden partitioning unlocks: two Iceberg tables
  * both laid out `bucket(N, key)` on the same key with the same N put
  * every row of a given key in the SAME bucket ordinal on both sides
  * (the spec pins one hash: murmur3_x86_32,
  * [[IcebergTransforms.bucketOf]], and int/long/date/timestamp hash
  * identically). Joining bucket k against bucket k is therefore
  * complete — no global shuffle is ever needed to co-locate the keys,
  * because the WRITERS already did it. The same layout fact makes
  * `groupBy(key)` shuffle-free: every key lives in exactly one bucket,
  * so a union of per-bucket COMPLETE aggregates is the global answer
  * ([[aggregate]]).
  *
  * Execution shape: one join (or aggregate) per bucket ordinal, unioned.
  *
  *  - `broadcastRight = true` (default for inner/left): each right
  *    bucket is broadcast to its matching left bucket's scan. The left
  *    (fact) side is NEVER exchanged — the plan is a union of N
  *    BroadcastHashJoins directly over the fact-side file scans
  *    (asserted in BucketJoinSpec). The PER-RELATION broadcast limit
  *    scales with N (each bucket ships 1/N of the dimension), but all
  *    N broadcast relations are live CONCURRENTLY in the one union
  *    job, so executor/driver heap still holds the whole dimension —
  *    the guard below sums the right side's live-file bytes from the
  *    planning state already in hand and auto-falls-back to shuffled
  *    per-bucket joins past [[maxBroadcastTotalBytes]].
  *  - `broadcastRight = false`: per-bucket shuffled joins — one giant
  *    N-way shuffle becomes N independent small joins (1/N state per
  *    join, skew bounded per bucket, failed buckets retry alone).
  *    For big-big joins where neither side's buckets broadcast.
  *  - `right`/`full` joins always take the shuffled per-bucket form:
  *    Spark cannot broadcast the preserved side of an outer join, so
  *    the hint would be silently ignored — we don't pretend.
  *
  * Both sides read through the full delete-applied reader (the same
  * machinery as [[IcebergScan.readPlanned]]) — position/equality
  * deletes and MOR images on either table are honored — but each
  * table's manifests are walked ONCE ([[IcebergScan.planTable]]) and
  * every per-bucket subset read reuses that planning state; planning
  * cost is one walk per side, not buckets × manifests. Rows with a
  * NULL key live in the null partition: they never equi-join (SQL
  * semantics), are skipped for `inner`, and are preserved with null
  * opposite-side columns for the outer types.
  *
  * Plan-size note: the union grows with N (bucket count), which is a
  * table-layout constant chosen at design time (typically 16-512) —
  * not data-dependent. At N beyond ~1000 prefer fewer, larger buckets;
  * the guard below is loud about it. */
object BucketJoin {

  /** join types this aligned form supports */
  private val JoinTypes =
    Set("inner", "left", "left_outer", "right", "right_outer", "full", "full_outer")

  /** total bytes of per-bucket broadcast relations allowed live at
    * once (manifest-recorded file sizes, pre-decompression) before the
    * aligned join auto-falls-back to `broadcastRight=false`. All N
    * broadcasts coexist in the one union job, so this bounds REAL heap,
    * not the per-relation 8 GiB cap. Var + env for ops override. */
  @volatile var maxBroadcastTotalBytes: Long =
    sys.env.get("GRAFT_BUCKET_BROADCAST_MAX_BYTES").map(_.toLong)
      .getOrElse(2L << 30) // 2 GiB of parquet ≈ several GiB of heap

  /** bucket-aligned join of two Iceberg tables on `key`. Requires both
    * tables' default partition spec to carry `bucket(N, key)` with the
    * SAME N and hash-compatible key types. `extraKeys` adds further
    * equi-join columns for COMPOSITE keys — alignment only needs the
    * bucketed column (rows agreeing on `key` are co-located whatever
    * the other columns say), so the extra conditions just ride each
    * per-bucket join. Returns key columns, left columns, right columns
    * (duplicate non-key names keep Spark's usual disambiguation
    * rules). */
  def join(spark: SparkSession, leftPath: String, rightPath: String,
      key: String, joinType: String = "inner",
      broadcastRight: Boolean = true,
      extraKeys: Seq[String] = Nil): DataFrame = {
    require(JoinTypes.contains(joinType),
      s"bucket-aligned join supports ${JoinTypes.mkString("/")}, got '$joinType'")
    require(!extraKeys.contains(key), s"'$key' is already the bucket key")
    val jt = joinType match {
      case "left_outer" => "left"
      case "right_outer" => "right"
      case "full_outer" => "full"
      case t => t
    }

    val (lPlanned, lBucket) = planBucketed(spark, leftPath, key, "left")
    val (rPlanned, rBucket) = planBucketed(spark, rightPath, key, "right")
    val (lSchema, rSchema) = (lPlanned.schema, rPlanned.schema)
    require(lBucket.param == rBucket.param,
      s"bucket counts differ: left bucket(${lBucket.param}, $key) vs " +
        s"right bucket(${rBucket.param}, $key) — storage-partitioned joins " +
        "need identical N (re-bucket one side)")
    requireHashCompatible(lBucket.source.dataType, rBucket.source.dataType, key)
    require(lBucket.param <= 4096,
      s"bucket(${lBucket.param}) union plan would carry ${lBucket.param} " +
        "branches — use fewer, larger buckets")

    val leftByBucket = filesByBucket(lPlanned, lBucket.specName)
    val rightByBucket = filesByBucket(rPlanned, rBucket.specName)

    def side(planned: IcebergScan.PlannedTable,
        files: Seq[IcebergScan.FileEntry]): DataFrame =
      if (files.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], planned.schema)
      else IcebergScan.readPlanned(spark, planned, Some(files.map(_.path).toSet))

    // which bucket ordinals produce output: inner needs both sides
    // populated; each outer type needs every populated bucket of its
    // preserved side(s) — incl. the null-key partition, which never
    // equi-matches and surfaces with null opposite-side columns
    val buckets: Seq[Option[Int]] = {
      val l = leftByBucket.keySet
      val r = rightByBucket.keySet
      (jt match {
        case "inner" => l.filter(b => b.isDefined && r.contains(b))
        case "left" => l
        case "right" => r
        case "full" => l ++ r
      }).toSeq.sortBy(_.getOrElse(-1))
    }

    // broadcast-budget guard: N concurrent per-bucket broadcasts hold
    // the WHOLE right side in memory at once — past the bound, fall
    // back to shuffled per-bucket joins (still no global co-location
    // shuffle; each bucket exchanges only its own 1/N)
    val rightLiveBytes = rightByBucket.valuesIterator.flatten.map(_.bytes).sum
    val doBroadcast = broadcastRight && (jt == "inner" || jt == "left") &&
      (rightLiveBytes <= maxBroadcastTotalBytes || {
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"bucket-aligned join: right side holds $rightLiveBytes live bytes " +
            s"> budget $maxBroadcastTotalBytes for ${buckets.size} concurrent " +
            "per-bucket broadcasts — falling back to shuffled per-bucket joins")
        false
      })

    val joinCols = key +: extraKeys
    extraKeys.foreach { k =>
      require(lSchema.fieldNames.contains(k) && rSchema.fieldNames.contains(k),
        s"extra join key '$k' must be a column of both tables")
    }
    // ONE shared broadcast of the whole right side for the broadcast
    // form: the per-bucket slices all coexisted in memory anyway (the
    // budget guard above bounds exactly that), so N separate
    // BroadcastExchanges held the same bytes as one whole-side
    // broadcast while paying N broadcast-build jobs and N manifest-
    // subset scans. Every union branch now joins the SAME broadcast
    // subtree — canonically identical, so ReuseExchange collapses the
    // build to one job (plan-asserted in BucketJoinSpec). Semantics are
    // unchanged: bucket k's left rows can only ever match right rows
    // of bucket k, so probing the whole-side relation returns the
    // identical pairs, and null right keys never equi-match. The
    // fact side still reads per-bucket with zero Exchange.
    val rAllBroadcast =
      if (!doBroadcast) scala.None
      else Some(broadcast(side(rPlanned,
        rightByBucket.valuesIterator.flatten.toSeq)))
    def piece(b: Option[Int]): DataFrame = {
      // null keys never equi-match: scan a null partition only on the
      // side(s) the join type preserves
      val lFiles = if (b.isDefined || jt == "left" || jt == "full")
        leftByBucket.getOrElse(b, Seq.empty) else Seq.empty
      val rFiles = if (b.isDefined || jt == "right" || jt == "full")
        rightByBucket.getOrElse(b, Seq.empty) else Seq.empty
      val l = side(lPlanned, lFiles)
      val r = rAllBroadcast match {
        // inner/left with an EMPTY right bucket: the branch exists only
        // to preserve left rows (left join) — joining the whole-side
        // broadcast would fabricate matches bucket k does not have.
        // Guarded: inner skips those buckets entirely (see `buckets`),
        // and a left-join branch with no right files keeps the empty
        // right so its rows surface with null right columns, as before.
        case Some(rb) if rFiles.nonEmpty => rb
        case _ =>
          val r0 = side(rPlanned, rFiles)
          if (doBroadcast) broadcast(r0) else r0
      }
      l.join(r, joinCols, jt)
    }
    val pieces = buckets.map(piece)
    if (pieces.isEmpty) { // no aligned buckets: empty result, joined schema
      side(lPlanned, Seq.empty).join(side(rPlanned, Seq.empty), joinCols, jt)
    } else pieces.reduce(_ unionByName _)
  }

  /** STORAGE-PARTITIONED AGGREGATION: `groupBy(key, extraGroupCols)`
    * over one `bucket(N, key)` table with ZERO Exchange. Every value of
    * `key` lives in exactly one bucket ordinal, so a COMPLETE aggregate
    * per bucket, unioned, IS the global answer — any group tuple that
    * contains the bucketed key is wholly inside one bucket. Each bucket
    * is coalesced to ONE task (narrow, no shuffle): parallelism = the
    * layout's N, which is the design point of bucketing — the writers
    * already paid the co-location shuffle once, every aggregate after
    * reads it back for free. `aggs` are ordinary aggregate Columns
    * (alias them — the names become the output schema). */
  def aggregate(spark: SparkSession, path: String, key: String,
      aggs: Seq[Column], extraGroupCols: Seq[String] = Nil): DataFrame = {
    require(aggs.nonEmpty, "aggregate needs at least one aggregate column")
    val (planned, bucket) = planBucketed(spark, path, key, "the")
    require(bucket.param <= 4096,
      s"bucket(${bucket.param}) union plan would carry ${bucket.param} " +
        "branches — use fewer, larger buckets")
    val byBucket = filesByBucket(planned, bucket.specName)
    val groupCols = key +: extraGroupCols
    def aggOf(df: DataFrame): DataFrame =
      df.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
    if (byBucket.isEmpty)
      return aggOf(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], planned.schema))
    byBucket.toSeq.sortBy(_._1.getOrElse(-1)).map { case (_, files) =>
      // coalesce(1): a single-partition child satisfies the aggregate's
      // clustered-distribution requirement, so Catalyst plans the
      // HashAggregate COMPLETE with no Exchange (plan-asserted in
      // BucketJoinSpec) — one task per bucket, reading only its files
      aggOf(IcebergScan.readPlanned(spark, planned,
        Some(files.map(_.path).toSet)).coalesce(1))
    }.reduce(_ unionByName _)
  }

  /** one-walk planning state + the spec's bucket field over `key`, or loud */
  private def planBucketed(spark: SparkSession, path: String, key: String,
      sideName: String): (IcebergScan.PlannedTable, IcebergTransforms.PartField) = {
    val planned = IcebergScan.planTable(spark, path)
    val fields = IcebergScan.partitionFieldsOf(planned)
    val pf = fields.find(f => f.transform == "bucket" && f.source.name == key)
      .getOrElse(throw new IllegalArgumentException(
        s"$sideName table $path is not bucket-partitioned on '$key' " +
          s"(spec: ${fields.map(_.transformJson).mkString(", ")}); " +
          "create it with partitionBy = Seq(\"bucket(N, " + key + ")\")"))
    (planned, pf)
  }

  /** int/long/date/timestamp all hash as 8-byte little-endian longs
    * (spec Appendix B) — mixing them keeps co-location; strings hash
    * as UTF-8 and only align with strings */
  private def requireHashCompatible(l: DataType, r: DataType, key: String): Unit = {
    val longFamily: Set[DataType] =
      Set(IntegerType, LongType, DateType, TimestampType, TimestampNTZType)
    val ok = (longFamily.contains(l) && longFamily.contains(r)) ||
      (l == StringType && r == StringType)
    require(ok, s"join key '$key' types ${l.sql} vs ${r.sql} do not hash " +
      "to the same buckets — the aligned join would silently drop matches")
  }

  /** live data-file entries grouped by bucket ordinal (None = the
    * NULL-key partition). Driver-side metadata only — consumes the
    * one-walk planning state, no further metadata reads. */
  private def filesByBucket(planned: IcebergScan.PlannedTable,
      specName: String): Map[Option[Int], Seq[IcebergScan.FileEntry]] = {
    val data = IcebergScan.dedupedDataEntries(planned)
    data.foreach { e =>
      require(e.partition.contains(specName),
        s"data file ${e.path} carries no '$specName' partition value — " +
          "the table's files predate the bucket spec (rewrite via compact " +
          "before using the aligned join)")
    }
    data.groupBy(e => e.partition(specName) match {
      case null => scala.None
      case i: java.lang.Integer => Some(i.intValue())
      case other => throw new IllegalArgumentException(
        s"bucket partition value of ${e.path} is ${other.getClass.getName}, " +
          "expected int")
    })
  }
}
