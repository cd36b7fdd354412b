package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

import graft.{SparkEntry, Tidier}

/** The two workloads made of `SparkEntry.queries` builders: the timed
  * op is the builder call (operators layer) followed by the action. */
abstract class QueryWorkload(names: Seq[String], warm: String,
    inputs: Map[String, Seq[String]] = Map.empty) extends Workload {
  private val inputRows = mutable.Map[String, Long]()
  private val expected = mutable.Map[String, String]()

  protected def build(ctx: Ctx, name: String, dir: String = null): DataFrame =
    SparkEntry.queries(name)(ctx.spark, Option(dir).getOrElse(ctx.dataDir))

  def warmup(ctx: Ctx): Unit = Tidier.from(build(ctx, warm, ctx.args.warm)).collect()

  /** Untimed: every op once, its output written for the oracle check. */
  def prime(ctx: Ctx): Unit = {
    names.foreach { n =>
      ctx.run(n, "prime", 0, -1)(build(ctx, n)) { df =>
        inputRows(n) = ctx.inputRows(df, inputs.getOrElse(n, Nil))
        primeOutput(ctx, n, df)
      }
    }
  }

  override def oracleSql: Map[String, String] =
    names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap

  protected def primeOutput(ctx: Ctx, name: String, df: DataFrame): Long
  protected def timedAction(ctx: Ctx, name: String, df: DataFrame): Long

  def pass(ctx: Ctx, pass: Int, rng: scala.util.Random): Unit =
    rng.shuffle(names).zipWithIndex.foreach { case (n, i) =>
      val s = ctx.run(n, "query", i, pass)(build(ctx, n))(df => timedAction(ctx, n, df))
      s.extra("input_rows") = inputRows.getOrElse(n, 0L).toDouble
    }

  protected def expect(ctx: Ctx, name: String, fp: String): Unit =
    expected.get(name) match {
      case None => expected(name) = fp
      case Some(want) if want != fp => ctx.wrong += s"$name: result changed between runs ($want vs $fp)"
      case _ =>
    }
}

/** `interactive`: dbplyr-style read-only queries, each ending in
  * `collect()` (TidierDB's `@collect`). Every timed result must match
  * the primed one, which the oracle checks. */
final class Interactive extends QueryWorkload(Interactive.names, "q_tpch_q6") {
  protected def primeOutput(ctx: Ctx, name: String, df: DataFrame): Long = {
    val rows = Tidier.from(df).collect()
    expect(ctx, name, Ctx.fingerprint(rows))
    ctx.dump(name, rows, df)
    rows.length
  }

  private val last = mutable.Map[String, Array[org.apache.spark.sql.Row]]()
  protected def timedAction(ctx: Ctx, name: String, df: DataFrame): Long = {
    val rows = Tidier.from(df).collect()
    last(name) = rows
    rows.length
  }

  override def pass(ctx: Ctx, pass: Int, rng: scala.util.Random): Unit = {
    super.pass(ctx, pass, rng)
    last.foreach { case (n, rows) => expect(ctx, n, Ctx.fingerprint(rows)) }
    last.clear()
  }
}

object Interactive {
  /** TPC-H aggregation, join and subquery shapes, then semi-join,
    * window, pivot, as-of and top-k retrieval */
  val names: Seq[String] = Seq("q_tpch_q1", "q_tpch_q3", "q_tpch_q6",
    "q_tpch_q10", "q_tpch_q18", "q_tpch_q21a",
    "q_join_semi", "q_window_rank", "q_pivot_wider", "q_asof_join",
    "q_slice_max", "q_embed_knn")
}

/** `batch`: LLM-data shapes, each evaluated in full into Spark's `noop`
  * sink on the scaled-up corpus. The primed run writes
  * the same result to parquet for the oracle check. */
final class Batch extends QueryWorkload(Batch.names, "q_tpch_q6", Batch.inputs) {
  protected def primeOutput(ctx: Ctx, name: String, df: DataFrame): Long = {
    df.write.mode("overwrite").parquet(s"${ctx.args.out}/results/$name")
    ctx.spark.read.parquet(s"${ctx.args.out}/results/$name").count()
  }

  protected def timedAction(ctx: Ctx, name: String, df: DataFrame): Long = {
    df.write.format("noop").mode("overwrite").save()
    0L
  }
}

object Batch {
  /** the tables each shape reads, declared because a final plan that
    * starts from state persisted while building hides its input files */
  val inputs: Map[String, Seq[String]] = Map(
    "q_dedup_minhash" -> Seq("documents"),
    "q_text_langid2" -> Seq("documents"), "q_rep_gopher" -> Seq("documents"))
  val names: Seq[String] = inputs.keys.toSeq.sorted
}
