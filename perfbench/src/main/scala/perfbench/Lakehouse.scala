package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.{DeltaScan, DeltaWrite, IcebergScan, IcebergWrite}

/** `lakehouse`: a seeded stream of DML commits on one Delta and one
  * Iceberg table built from `documents`, each commit followed by a
  * selective read-back through `skippingFilter`, checked against a
  * model of the applied ops. Every pass commits each DML kind once per
  * table, in seeded order, the two tables taking turns, and closes with
  * compaction. Priming runs one such untimed pass, so the first timed
  * pass takes Delta from version 6 to 10 and ends on its
  * auto-checkpoint (every ten versions): every untraced run measures
  * the same commits at the same versions. */
final class Lakehouse extends Workload {
  import Lakehouse._

  private var pool: Array[Doc] = Array.empty
  private val tables = mutable.ArrayBuffer[Table]()

  private def root(ctx: Ctx) = s"${ctx.args.run}/tables"

  private def docs(ctx: Ctx, dir: String): Array[Doc] =
    ctx.spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text", "lang", "source", "n_chars").collect()
      .map(r => Doc(r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
      .sortBy(_.id)

  private def newTable(ctx: Ctx, f: Format, name: String, rows: Seq[Doc]): Table = {
    val t = new Table(f, s"${root(ctx)}/$name")
    t.fmt.create(ctx, frame(ctx, rows), t.path)
    rows.foreach(d => t.model(d.id) = d)
    t.nextId = rows.size
    t.scanFiles()
    t
  }

  def warmup(ctx: Ctx): Unit = {
    val warm = docs(ctx, ctx.args.warm)
    val t = newTable(ctx, Delta, "warm", warm.take(50).toSeq)
    Delta.append(ctx, frame(ctx, warm.slice(50, 70).toSeq), t.path)
    Delta.read(ctx, t.path, Some(col("doc_id") >= 60L)).collect()
  }

  /** Untimed: the two measured tables at version 0, then one pass. */
  def prime(ctx: Ctx): Unit = {
    pool = docs(ctx, ctx.dataDir)
    val n = math.min(pool.length / 2, 2000)
    for (f <- Formats) tables += newTable(ctx, f, s"${f.name}_docs", pool.take(n).toSeq)
    run(ctx, -1, new scala.util.Random(ctx.args.seed ^ 0x5eedL), "prime")
  }

  def pass(ctx: Ctx, pass: Int, rng: scala.util.Random): Unit = run(ctx, pass, rng, "commit")

  /** Two traced passes, versions 6 to 15: a whole checkpoint cycle, with
    * one compaction that checkpoints and one that does not; then the
    * untraced passes, for the tracing overhead. */
  override def tracePlan(n: Int): Seq[Boolean] = Seq(true, true) ++ Seq.fill(n)(false)

  /** Compaction closes every pass, so it always has the pass's small
    * files to merge, and on Delta a timed pass of an untraced run ends
    * on the version-10 commit. */
  private def run(ctx: Ctx, pass: Int, rng: scala.util.Random, label: String): Unit = {
    val order = tables.map(t => t -> (rng.shuffle(Kinds.init) :+ Kinds.last)).toSeq
    for (i <- Kinds.indices; (t, kinds) <- order) step(ctx, t, kinds(i), rng, i, pass, label)
  }

  /** One client step: a DML commit, then the read-back of the rows it
    * touched. */
  private def step(ctx: Ctx, t: Table, kind: String, rng: scala.util.Random,
      i: Int, pass: Int, label: String): Unit = {
    val keys = t.model.keysIterator.toIndexedSeq
    def anyKey = keys(rng.nextInt(keys.size))
    val f = t.fmt
    var user = 0L
    val (s, lo, hi) = kind match {
      case "append" =>
        val rows = (0 until 100).map(j => pool(((t.nextId + j) % pool.length).toInt)
          .copy(id = t.nextId + j))
        t.nextId += 100
        user = rows.map(_.bytes).sum
        val s = ctx.run(s"${f.name}.append", label, i, pass)(frame(ctx, rows)) { df =>
          f.append(ctx, df, t.path); rows.size.toLong }
        if (s.error == null) rows.foreach(d => t.model(d.id) = d)
        (s, rows.head.id, rows.last.id)
      case "merge" =>
        val start = keys.indexOf(anyKey)
        val old = keys.slice(start, start + 40).map(t.model)
        val upd = old.map(d => d.withText(s"${d.text} m${t.commits}"))
        val ins = (0 until 40).map(j => pool(((t.nextId + j) % pool.length).toInt)
          .copy(id = t.nextId + j))
        t.nextId += 40
        val rows = upd ++ ins
        user = rows.map(_.bytes).sum
        val s = ctx.run(s"${f.name}.merge", label, i, pass)(frame(ctx, rows)) { df =>
          val (u, n) = f.merge(ctx, t.path, df); u + n }
        if (s.error == null) rows.foreach(d => t.model(d.id) = d)
        if (s.error == null && s.rows != rows.size)
          ctx.wrong += s"${f.name} merge reported ${s.rows} rows, expected ${rows.size}"
        (s, upd.head.id, upd.last.id)
      case "delete" =>
        val a = anyKey
        val gone = t.model.range(a, a + 30).keys.toSeq
        val s = ctx.run(s"${f.name}.delete", label, i, pass)(
          col("doc_id") >= a && col("doc_id") < a + 30)(c => f.delete(ctx, t.path, c))
        if (s.error == null) gone.foreach(t.model.remove)
        if (s.error == null && s.rows != gone.size)
          ctx.wrong += s"${f.name} delete reported ${s.rows} rows, expected ${gone.size}"
        (s, a - 5, a + 35)
      case "update" =>
        val a = anyKey
        val lang = s"u${t.commits % 7}"
        val hit = t.model.range(a, a + 40).values.toSeq
        user = hit.map(d => d.copy(lang = lang).bytes).sum
        val s = ctx.run(s"${f.name}.update", label, i, pass)(
          col("doc_id") >= a && col("doc_id") < a + 40)(c => f.update(ctx, t.path, c,
            Seq("lang" -> lit(lang), "n_chars" -> (col("n_chars") + 1L))))
        if (s.error == null) hit.foreach(d => t.model(d.id) = d.copy(lang = lang, nChars = d.nChars + 1))
        if (s.error == null && s.rows != hit.size)
          ctx.wrong += s"${f.name} update reported ${s.rows} rows, expected ${hit.size}"
        (s, a, a + 39)
      case "compact" =>
        val s = ctx.run(s"${f.name}.compact", label, i, pass)(())(_ => { f.compact(ctx, t.path); 0L })
        val a = anyKey
        (s, a, a + 49)
    }
    t.commits += 1
    val (added, bytes, logBytes) = t.scanFiles()
    s.extra ++= Seq("user_bytes" -> user.toDouble, "bytes_written" -> bytes.toDouble,
      "log_bytes" -> logBytes.toDouble, "files_written" -> added.toDouble,
      "version" -> t.commits.toDouble, "input_rows" -> s.rows.toDouble)
    val filter = col("doc_id") >= lo && col("doc_id") <= hi
    var got: Array[Row] = Array.empty
    val r = ctx.run(s"${f.name}.read", if (label == "prime") label else "read", i, pass)(
      f.read(ctx, t.path, Some(filter))) { df => got = df.collect(); got.length.toLong }
    r.extra("input_rows") = r.rows.toDouble
    if (r.error == null) t.check(ctx, got, lo, hi, s"${f.name} read-back after ${s.name} #${t.commits}")
  }

  /** The closing full read of both tables, and their space use. */
  override def finish(ctx: Ctx): Map[String, Double] = {
    var dirBytes, plainBytes = 0L
    for (t <- tables) {
      var got: Array[Row] = Array.empty
      val r = ctx.run(s"${t.fmt.name}.full_read", "final", 0, -1)(t.fmt.read(ctx, t.path, None)) { df =>
        got = df.collect(); got.length.toLong }
      if (r.error == null) t.check(ctx, got, Long.MinValue, Long.MaxValue, s"${t.fmt.name} final full read")
      dirBytes += t.files.values.sum
      val plain = s"${ctx.args.run}/plain-${t.fmt.name}"
      frame(ctx, t.model.values.toSeq).coalesce(1).write.mode("overwrite").parquet(plain)
      plainBytes += Files.walk(Paths.get(plain)).iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
        .map(p => Files.size(p)).sum
    }
    Map("space_amp" -> dirBytes.toDouble / math.max(1L, plainBytes),
      "table_bytes" -> dirBytes.toDouble, "plain_bytes" -> plainBytes.toDouble,
      "commits_per_table" -> tables.map(_.commits).min.toDouble)
  }
}

object Lakehouse {
  final case class Doc(id: Long, text: String, lang: String, source: String, nChars: Long) {
    def withText(t: String): Doc = copy(text = t, nChars = t.length.toLong)
    def row: Row = Row(id, text, lang, source, nChars)
    /** the user's logical bytes: fixed-width longs plus UTF-8 strings */
    def bytes: Long = 16L + Seq(text, lang, source).map(_.getBytes("UTF-8").length).sum
  }

  val Schema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** the DML kinds of a pass; compaction, last, closes it */
  val Kinds: Seq[String] = Seq("append", "merge", "delete", "update", "compact")

  def frame(ctx: Ctx, docs: Seq[Doc]): DataFrame =
    ctx.spark.createDataFrame(docs.map(_.row).asJava, Schema)

  /** The format-specific calls, each one public writer or scanner API. */
  sealed abstract class Format(val name: String) {
    def create(ctx: Ctx, df: DataFrame, path: String): Unit
    def append(ctx: Ctx, df: DataFrame, path: String): Unit
    def merge(ctx: Ctx, path: String, src: DataFrame): (Long, Long)
    def delete(ctx: Ctx, path: String, cond: Column): Long
    def update(ctx: Ctx, path: String, cond: Column, set: Seq[(String, Column)]): Long
    def compact(ctx: Ctx, path: String): Unit
    def read(ctx: Ctx, path: String, filter: Option[Column]): DataFrame
    def isLog(rel: String): Boolean
  }

  object Delta extends Format("delta") {
    def create(ctx: Ctx, df: DataFrame, path: String): Unit = DeltaWrite.create(ctx.spark, df, path)
    def append(ctx: Ctx, df: DataFrame, path: String): Unit = DeltaWrite.append(ctx.spark, df, path)
    def merge(ctx: Ctx, path: String, src: DataFrame): (Long, Long) =
      DeltaWrite.merge(ctx.spark, path, src, Seq("doc_id"))
    def delete(ctx: Ctx, path: String, cond: Column): Long = DeltaWrite.deleteWhere(ctx.spark, path, cond)
    def update(ctx: Ctx, path: String, cond: Column, set: Seq[(String, Column)]): Long =
      DeltaWrite.updateWhere(ctx.spark, path, cond, set)
    def compact(ctx: Ctx, path: String): Unit = DeltaWrite.compact(ctx.spark, path)
    def read(ctx: Ctx, path: String, filter: Option[Column]): DataFrame =
      DeltaScan.read(ctx.spark, path, None, filter)
    def isLog(rel: String): Boolean = rel.startsWith("_delta_log")
  }

  object Iceberg extends Format("iceberg") {
    def create(ctx: Ctx, df: DataFrame, path: String): Unit = IcebergWrite.create(ctx.spark, df, path)
    def append(ctx: Ctx, df: DataFrame, path: String): Unit = IcebergWrite.append(ctx.spark, df, path)
    def merge(ctx: Ctx, path: String, src: DataFrame): (Long, Long) =
      IcebergWrite.merge(ctx.spark, path, src, Seq("doc_id"))
    def delete(ctx: Ctx, path: String, cond: Column): Long = IcebergWrite.deleteWhere(ctx.spark, path, cond)
    def update(ctx: Ctx, path: String, cond: Column, set: Seq[(String, Column)]): Long =
      IcebergWrite.updateWhere(ctx.spark, path, cond, set)
    def compact(ctx: Ctx, path: String): Unit = IcebergWrite.compact(ctx.spark, path)
    def read(ctx: Ctx, path: String, filter: Option[Column]): DataFrame =
      IcebergScan.read(ctx.spark, path, None, filter)
    def isLog(rel: String): Boolean = rel.startsWith("metadata")
  }

  val Formats: Seq[Format] = Seq(Delta, Iceberg)

  /** A measured table: its path, the model of its live rows, and the
    * files seen so far (for bytes-written accounting). */
  final class Table(val fmt: Format, val path: String) {
    val model = mutable.TreeMap[Long, Doc]()
    var nextId = 0L
    var commits = 0
    val files = mutable.Map[String, Long]()

    /** Files added since the last scan: (count, bytes, of which log bytes). */
    def scanFiles(): (Int, Long, Long) = {
      val rootP = Paths.get(path)
      val now = Files.walk(rootP).iterator().asScala.filter(Files.isRegularFile(_))
        .map((p: Path) => rootP.relativize(p).toString -> Files.size(p)).toMap
      val added = now.filter { case (k, _) => !files.contains(k) }
      files.clear(); files ++= now
      (added.size, added.values.sum, added.filter(kv => fmt.isLog(kv._1)).values.sum)
    }

    def check(ctx: Ctx, got: Array[Row], lo: Long, hi: Long, what: String): Unit = {
      val want = model.range(lo, if (hi == Long.MaxValue) hi else hi + 1).values.map(_.row).toSet
      val have = got.map(r => Row(r.getAs[Long]("doc_id"), r.getAs[String]("text"),
        r.getAs[String]("lang"), r.getAs[String]("source"), r.getAs[Long]("n_chars"))).toSet
      if (have.size != got.length || have != want)
        ctx.wrong += s"$what: ${got.length} rows read, ${want.size} expected, " +
          s"${(have -- want).size} unexpected, ${(want -- have).size} missing"
    }
  }
}
