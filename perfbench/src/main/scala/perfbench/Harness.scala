package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One timed call into the system: a build span (query builder, verb
  * or source-DataFrame construction) followed by an action span. */
final class OpSample(val id: String, val name: String, val kind: String,
    val step: Int, val pass: Int, val traced: Boolean) {
  var startMs, endMs, rows = 0L
  var wallS, buildS, actionS = 0.0
  var error: String = null
  val extra = mutable.LinkedHashMap[String, Double]()
  /** the listener events attributed to a traced op (see Trace.events) */
  var events: Map[String, Any] = Map.empty

  def record: Map[String, Any] = Map(
    "id" -> id, "name" -> name, "kind" -> kind, "step" -> step, "pass" -> pass,
    "traced" -> traced, "start_ms" -> startMs, "end_ms" -> endMs, "wall_s" -> wallS,
    "build_s" -> buildS, "action_s" -> actionS, "rows" -> rows, "error" -> error,
    "extra" -> extra, "events" -> events)
}

/** What every workload shares: the run's settings, the op runner and
  * the output-check bookkeeping. */
final class Ctx(val spark: SparkSession, val args: Args) {
  val samples = mutable.ArrayBuffer[OpSample]()
  val wrong = mutable.ArrayBuffer[String]()
  var traced = false
  private var seq = 0

  def dataDir: String = args.data

  /** Rows per generated table, as the input generator recorded them. */
  lazy val tableRows: Map[String, Long] = {
    val n = Ctx.mapper.readTree(new java.io.File(args.data, "counts.json"))
    n.fieldNames.asScala.map(k => k -> n.get(k).asLong).toMap
  }

  /** Runs `build` then `action` as one op, recording both spans. A
    * throwing op is recorded with its error, never dropped. */
  def run[A](name: String, kind: String, step: Int, pass: Int)(build: => A)(
      action: A => Long): OpSample = {
    seq += 1
    val s = new OpSample(s"$kind-$seq", name, kind, step, pass, traced)
    val sc = spark.sparkContext
    sc.setLocalProperty(Trace.OpKey, s.id)
    sc.setLocalProperty(Trace.PhaseKey, "build")
    s.startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var built: Any = null
    try {
      val a = build
      built = a
      val t1 = System.nanoTime()
      s.buildS = (t1 - t0) / 1e9
      sc.setLocalProperty(Trace.PhaseKey, "action")
      s.rows = action(a)
      s.actionS = (System.nanoTime() - t1) / 1e9
    } catch {
      case e: InterruptedException => throw e
      case e: Throwable =>
        s.error = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
    } finally {
      s.wallS = (System.nanoTime() - t0) / 1e9
      s.endMs = System.currentTimeMillis()
      sc.setLocalProperty(Trace.OpKey, null)
      sc.setLocalProperty(Trace.PhaseKey, null)
    }
    // traced ops also record how many files their plan reads (after
    // skipping), outside the op's timing
    built match {
      case df: org.apache.spark.sql.Dataset[_] if traced && s.error == null =>
        s.extra("files_read") = df.inputFiles.length.toDouble
      case _ =>
    }
    samples += s
    s
  }

  /** Rows of the generated input tables an op reads: the tables behind
    * the DataFrame's input files (one parquet file per table), plus
    * any the workload declares. */
  def inputRows(df: DataFrame, declared: Seq[String]): Long = {
    (df.inputFiles.toSeq.map(_.split('/').last.stripSuffix(".parquet")) ++ declared)
      .distinct.flatMap(tableRows.get).sum
  }

  /** Writes collected rows as one parquet file for the oracle check. */
  def dump(name: String, rows: Array[Row], df: DataFrame): Unit =
    spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
      .write.mode("overwrite").parquet(s"${args.out}/results/$name")
}

object Ctx {
  /** JSON for the files the harness shares with run.py. */
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Order-insensitive fingerprint of a result, doubles rounded to 9
    * significant digits (the oracle check's normalization). */
  def fingerprint(rows: Array[Row]): String = {
    def cell(v: Any): String = v match {
      case null => "NULL"
      case d: Double if d.isNaN => "NaN"
      case d: Double => new java.math.BigDecimal(d)
          .round(new java.math.MathContext(9)).stripTrailingZeros.toString
      case f: Float => cell(f.toDouble)
      case r: Row => r.toSeq.map(cell).mkString("{", ",", "}")
      case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] => m.toSeq.map(kv => cell(kv._1) + ":" + cell(kv._2)).sorted.mkString("{", ",", "}")
      case a: Array[Byte] => a.map("%02x".format(_)).mkString
      case x => x.toString
    }
    val lines = rows.map(r => r.toSeq.map(cell).mkString("|")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().take(12).map("%02x".format(_)).mkString + s":${rows.length}"
  }
}

/** A workload: a fixed small warm-up that ends the set-up, an untimed
  * priming pass that warms every op and records its output for the
  * checks, and seeded timed passes. */
trait Workload {
  def warmup(ctx: Ctx): Unit
  def prime(ctx: Ctx): Unit
  def pass(ctx: Ctx, pass: Int, rng: scala.util.Random): Unit
  /** The passes of a traced run, traced or not, for `n` timed passes of
    * an untraced run: each traced pass is followed by an untraced one of
    * the same ops, for the tracing overhead. */
  def tracePlan(n: Int): Seq[Boolean] = Seq.fill(n)(Seq(true, false)).flatten
  /** The oracle SQL each op's primed output is compared with. */
  def oracleSql: Map[String, String] = Map.empty
  /** End-of-run checks and metrics, outside the timed window. */
  def finish(ctx: Ctx): Map[String, Double] = Map.empty
}
