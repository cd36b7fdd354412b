package graft.sources

import java.util.ConcurrentModificationException

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, Encoders, Observation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{coalesce, col, count, lit, max, sum, when}

/** Plumbing the lakehouse writers ([[DeltaWrite]], [[IcebergWrite]])
  * and the sinks beside them share: JSON string literals, one Jackson
  * mapper, UTF-8 control-file reads, parquet footer reads, bounded
  * parallel footer I/O, the optimistic-concurrency retry loop, and the
  * two data passes of a copy-on-write DML ([[tallyByFile]],
  * [[MergeRows]]). */
private[sources] object LakeSupport {

  /** shared parser/serializer — an ObjectMapper is thread-safe once
    * configured, and `readTree` is all the writers use it for */
  val mapper = new ObjectMapper()

  /** attempts after the first that a commit makes before surfacing a
    * lost race */
  val MaxCommitRetries = 5

  /** JSON string literal; every control character escapes */
  def jstr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def readUtf8(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  /** One parquet footer read: the file's row count, plus whatever
    * `more` derives from the same footer (column stats) */
  def readFooter[T](conf: Configuration, p: Path)(more: ParquetMetadata => T): (Long, T) = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
    try (r.getRecordCount, more(r.getFooter)) finally r.close()
  }

  /** a parquet file's row count, from its footer */
  def footerRows(conf: Configuration, p: Path): Long = readFooter(conf, p)(_ => ())._1

  /** bounded driver-side parallel map for per-file METADATA I/O
    * (parquet footer reads): a partitioned commit can name thousands
    * of files, and a sequential footer walk single-cores it — 16
    * concurrent reads cut that phase ~10x at high file counts.
    * Order-preserving; exceptions propagate. */
  def parMap[A, B](xs: Seq[A])(f: A => B): Seq[B] =
    if (xs.lengthCompare(8) < 0) xs.map(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(16)
      try {
        val futs = xs.map { x =>
          pool.submit(new java.util.concurrent.Callable[B] { def call(): B = f(x) })
        }
        futs.map(_.get())
      } catch {
        case e: java.util.concurrent.ExecutionException => throw e.getCause
      } finally pool.shutdown()
    }

  /** The OCC retry loop every lakehouse commit runs: `attempt` either
    * commits or throws ConcurrentModificationException (a lost CAS);
    * a loser runs `revalidate` — the format's check that the winner's
    * commits leave this operation's plan valid, which throws to abort —
    * and tries again, up to `maxRetries` times, after which the last
    * loss surfaces. */
  def retryOnConflict[T](maxRetries: Int,
      revalidate: ConcurrentModificationException => Unit = _ => ())(
      attempt: => T): T = {
    require(maxRetries >= 0, s"maxRetries must be >= 0, got $maxRetries")
    var lost = 0
    while (true) {
      try return attempt
      catch {
        case e: ConcurrentModificationException =>
          lost += 1
          if (lost > maxRetries) throw e
          revalidate(e)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  // ---- copy-on-write DML: two data passes ---------------------------
  //
  // A copy-on-write DML makes two passes over the data. Pass 1 finds
  // the victim files — those holding a row the DML changes — and pass 2
  // rewrites them. Row counts ride those passes; no other action runs.

  /** Pass 1 of a copy-on-write DML: each file holding a row of `rows`,
    * named by the `file` column, with its row count. ONE Spark job and
    * no shuffle: every task tallies its own rows per file and the
    * driver adds the tallies up, so driver state is bounded by file
    * count (times the splits of a file), never by rows. */
  def tallyByFile(rows: DataFrame, file: Column): Map[String, Long] =
    rows.select(file).as(Encoders.STRING).mapPartitions { it =>
      val m = scala.collection.mutable.HashMap.empty[String, Long]
      it.foreach(f => m.update(f, m.getOrElse(f, 0L) + 1L))
      m.iterator
    }(Encoders.tuple(Encoders.STRING, Encoders.scalaLong))
      .collect() // [lint:bounded] one row per (task, file)
      .groupMapReduce(_._1)(_._2)(_ + _)

  /** Pass 2 of a copy-on-write merge, the same for both formats.
    *
    * The victim files' rows (`target`, None when there are none) that
    * no source key names survive through an anti-join against the
    * source keys — a broadcast join when the source is small, so
    * target rows are neither shuffled nor moved off the task that read
    * their file. Only keys meet in a shuffle: ONE window partitioned by
    * `keys` over the source `data` rows, the source `tombstones` (keys
    * only) and the victim rows' keys tells each source row how many
    * source rows and how many victim rows share its key. A NULL key
    * never matches (equi-join semantics), so NULL-key victim rows stay
    * out of the window; NULL-key source rows group with each other for
    * the duplicate-key guard, as a group-by would.
    *
    * [[rows]] is what the rewrite writes: the survivors and the source
    * data rows, plus two bookkeeping columns that [[observe]] counts
    * and drops — the writer applies it above its last shuffle, so the
    * counts are taken in the write's final stage, where a retried task
    * counts once. `matched` is pass 1's tally (victim rows some source
    * key names): the rows neither updated nor surviving were deleted.
    * The guard is a max, which a retried task cannot inflate, so it is
    * observed on the window itself. Read both with [[metrics]] once
    * the write has run. [[changes]] are the change-feed rows. */
  final class MergeRows(target: Option[DataFrame], data: DataFrame,
      tombstones: Option[DataFrame], keys: Seq[String], matched: Long) {
    private val fields = data.schema.fields.toSeq.map(f => col(f.name))
    private val keyCols = keys.map(col)
    private val nullKey = keyCols.map(_.isNull).reduce(_ || _)
    private val allKeys = tombstones.foldLeft(data.select(keyCols: _*))(_ unionByName _)
    private val counts = Observation()
    private val guard = Observation()

    /** source data rows, each with the victim rows its key hits */
    private val sourceRows = {
      def side(df: DataFrame, src: Int, tomb: Int) =
        df.select(keyCols: _*).withColumn("__src", lit(src)).withColumn("__tomb", lit(tomb))
      val dataTagged = data.withColumn("__src", lit(1)).withColumn("__tomb", lit(0))
      val others = tombstones.map(side(_, 1, 1)).toSeq ++
        target.map(t => side(t.filter(!nullKey), 0, 0)).toSeq
      val w = Window.partitionBy(keyCols: _*)
      others.foldLeft(dataTagged)((d, o) => d.unionByName(o, allowMissingColumns = true))
        .withColumn("__ns", sum(col("__src")).over(w))
        .withColumn("__nt", sum(lit(1) - col("__src")).over(w))
        .observe(guard, coalesce(max(col("__ns")), lit(0L)).as("maxPerKey"))
        .filter(col("__src") === 1 && col("__tomb") === 0)
        .select(fields :+ col("__src") :+
          when(nullKey, lit(0L)).otherwise(col("__nt")).as("__hits"): _*)
    }

    /** the rows the rewrite writes (write them once, through [[observe]]) */
    val rows: DataFrame = target.map(_.join(allKeys, keys, "left_anti")
        .select(fields :+ lit(0).as("__src") :+ lit(0L).as("__hits"): _*))
      .foldLeft(sourceRows)((s, t) => t.unionByName(s))

    /** count what [[rows]] carries and drop the bookkeeping columns */
    def observe(df: DataFrame): DataFrame =
      df.observe(counts, coalesce(sum(col("__hits")), lit(0L)).as("updated"),
          count(when(col("__src") === 1 && col("__hits") === 0L, lit(1))).as("inserted"),
          count(when(col("__src") === 1, lit(1))).as("sourceRows"))
        .drop("__src", "__hits")

    /** the change-feed rows, typed by `_change_type`: each matched
      * victim row (a pre-image, or a delete when a tombstone names it)
      * and each source data row (a post-image when it hit, else an
      * insert) */
    def changes: DataFrame = {
      val typed = data.select(keyCols: _*).withColumn("_change_type", lit("update_preimage"))
      val tags = tombstones.foldLeft(typed)((d, t) =>
        d.unionByName(t.select(keyCols: _*).withColumn("_change_type", lit("delete"))))
      val hit = target.map(_.join(tags, keys).select(fields :+ col("_change_type"): _*))
      val src = sourceRows.select(fields :+ when(col("__hits") > 0L, "update_postimage")
        .otherwise("insert").as("_change_type"): _*)
      hit.foldLeft(src)((s, h) => h.unionByName(s))
    }

    /** the counts, once [[rows]] has been written through [[observe]] */
    def metrics(): MergeCounts = {
      val (m, g) = (observed(counts), observed(guard))
      val updated = m.getAs[Long]("updated")
      MergeCounts(updated, m.getAs[Long]("inserted"), matched - updated,
        m.getAs[Long]("sourceRows"), g.getAs[Long]("maxPerKey"))
    }
  }

  /** the metrics `obs` observed on an action that has returned. They
    * arrive through the listener bus, so they may trail the action a
    * little; metrics that never arrive fail loudly, never hang. */
  private def observed(obs: Observation): org.apache.spark.sql.Row =
    scala.concurrent.Await.result(obs.future, scala.concurrent.duration.Duration(5, "min"))

  final case class MergeCounts(updated: Long, inserted: Long, deleted: Long,
      sourceRows: Long, maxPerKey: Long)

  /** delete files an operation staged but will not commit */
  def discardStaged(fs: FileSystem, staged: Seq[Path]): Unit =
    staged.foreach(fs.delete(_, false))

  /** `verify` what rode the write of the `staged` files (counts,
    * guards, row checks); a refusal — or metrics that never arrive —
    * deletes them before it surfaces, so nothing of a failed operation
    * stays behind */
  def verifyStaged[T](fs: FileSystem, staged: Seq[Path])(verify: => T): T =
    try verify
    catch { case scala.util.control.NonFatal(e) => discardStaged(fs, staged); throw e }

  /** A check every written row must pass (a CHECK constraint, a NOT
    * NULL column): the refusal when one fails, and the predicate a
    * violating row matches. */
  final case class RowCheck(refusal: String, violates: Column)

  /** NOT NULL: the `declared` non-nullable columns `df` declares
    * nullable — none when `df`'s schema already proves them, so the
    * check costs nothing then; `kind` names them in the refusal */
  def requiredCheck(df: DataFrame, declared: org.apache.spark.sql.types.StructType,
      kind: String): Option[RowCheck] = {
    val dfNullable = df.schema.fields.filter(_.nullable).map(_.name).toSet
    val risky = declared.fields
      .filter(f => !f.nullable && dfNullable.contains(f.name)).map(_.name)
    Option.when(risky.nonEmpty)(RowCheck(
      s"write carries NULL in $kind column(s) ${risky.mkString(", ")} — nothing committed",
      risky.map(col(_).isNull).reduce(_ || _)))
  }

  /** `checks` riding a write as [[Observation]] metrics instead of
    * jobs of their own: the writer applies [[observe]] to the rows it
    * writes, above its last shuffle; [[verify]] before committing — the
    * first failing check refuses, and the caller deletes what it
    * staged ([[verifyStaged]]) */
  final class ObservedChecks(checks: Seq[RowCheck]) {
    private val obs = Observation()

    def observe(df: DataFrame): DataFrame =
      if (checks.isEmpty) df
      else {
        val bad = checks.indices.map(i => count(when(checks(i).violates, lit(1))).as(s"c$i"))
        df.observe(obs, bad.head, bad.tail: _*)
      }

    def verify(): Unit = if (checks.nonEmpty) {
      val m = observed(obs)
      checks.indices.foreach(i => require(m.getAs[Long](s"c$i") == 0L, checks(i).refusal))
    }
  }
}
