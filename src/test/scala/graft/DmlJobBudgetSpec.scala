package graft

import org.apache.spark.ListenerBusAccess
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.{DeltaScan, DeltaWrite, IcebergScan, IcebergWrite}

/** The Spark job budget of each lake operation, on both formats. A
  * copy-on-write DML makes two data passes — one finds the files
  * holding matching rows, one rewrites them — so a merge runs at most
  * 6 jobs and an update or delete at most 3; an append runs 1. While
  * Iceberg position deletes are live, each pass may take one more job
  * (their broadcast), and a read of such a table runs at most 2. */
class DmlJobBudgetSpec extends SparkSpec {
  import spark.implicits._

  private def jobsOf(body: => Unit): Int = ListenerBusAccess.jobsOf(spark.sparkContext)(body)

  /** rows `from until to` in two partitions, so a write stages two files */
  private def rows(from: Long, to: Long, v: String): DataFrame =
    spark.range(from, to, 1L, 2).select(col("id"), lit(v).as("v"), (col("id") * 10L).as("n"))

  private def tempTable(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  private trait Format {
    def name: String
    def create(df: DataFrame, dir: String): Unit
    def append(df: DataFrame, dir: String): Unit
    def delete(dir: String, cond: org.apache.spark.sql.Column): Long
    def update(dir: String, cond: org.apache.spark.sql.Column): Long
    def merge(dir: String, src: DataFrame): (Long, Long)
    def compact(dir: String): Unit
    def read(dir: String): DataFrame
  }

  private object Delta extends Format {
    val name = "delta"
    def create(df: DataFrame, dir: String): Unit = DeltaWrite.create(spark, df, dir)
    def append(df: DataFrame, dir: String): Unit = DeltaWrite.append(spark, df, dir)
    def delete(dir: String, cond: org.apache.spark.sql.Column): Long =
      DeltaWrite.deleteWhere(spark, dir, cond)
    def update(dir: String, cond: org.apache.spark.sql.Column): Long =
      DeltaWrite.updateWhere(spark, dir, cond, Seq("v" -> lit("u"), "n" -> (col("n") + 1L)))
    def merge(dir: String, src: DataFrame): (Long, Long) =
      DeltaWrite.merge(spark, dir, src, Seq("id"))
    def compact(dir: String): Unit = DeltaWrite.compact(spark, dir)
    def read(dir: String): DataFrame = DeltaScan.read(spark, dir)
  }

  private object Iceberg extends Format {
    val name = "iceberg"
    def create(df: DataFrame, dir: String): Unit = IcebergWrite.create(spark, df, dir)
    def append(df: DataFrame, dir: String): Unit = IcebergWrite.append(spark, df, dir)
    def delete(dir: String, cond: org.apache.spark.sql.Column): Long =
      IcebergWrite.deleteWhere(spark, dir, cond)
    def update(dir: String, cond: org.apache.spark.sql.Column): Long =
      IcebergWrite.updateWhere(spark, dir, cond, Seq("v" -> lit("u"), "n" -> (col("n") + 1L)))
    def merge(dir: String, src: DataFrame): (Long, Long) =
      IcebergWrite.merge(spark, dir, src, Seq("id"))
    def compact(dir: String): Unit = IcebergWrite.compact(spark, dir)
    def read(dir: String): DataFrame = IcebergScan.read(spark, dir)
  }

  /** jobs per operation on a fresh four-file table; `positionDeletes`
    * first commits an Iceberg delete so later passes read through it */
  private def measure(f: Format, positionDeletes: Boolean): Map[String, Int] = {
    val dir = tempTable(s"graft_budget_${f.name}")
    val create = jobsOf(f.create(rows(0L, 40L, "a"), dir))
    f.append(rows(40L, 80L, "b"), dir)
    if (positionDeletes) assert(f.delete(dir, col("id") === 7L) == 1L)
    val append = jobsOf(f.append(rows(80L, 120L, "c"), dir))
    var n = 0L
    val update = jobsOf { n = f.update(dir, col("id") >= 20L && col("id") < 30L) }
    assert(n == 10L, s"${f.name} update count")
    var ui = (0L, 0L)
    val src = (Seq(50L, 51L, 90L).map(i => (i, "m", i)) ++
      (200L until 205L).map(i => (i, "m", i))).toDF("id", "v", "n")
    val merge = jobsOf { ui = f.merge(dir, src) }
    assert(ui == (3L, 5L), s"${f.name} merge counts")
    val read = jobsOf(f.read(dir).collect())
    val delete = jobsOf { n = f.delete(dir, col("id") >= 10L && col("id") < 15L) }
    assert(n == 5L, s"${f.name} delete count")
    val compact = jobsOf(f.compact(dir))
    val got = f.read(dir).select("id").as[Long].collect().toSet
    val want = ((0L until 120L).toSet -- (10L until 15L) --
      (if (positionDeletes) Set(7L) else Set.empty[Long])) ++ (200L until 205L)
    assert(got == want, s"${f.name} content after the stream")
    Map("create" -> create, "append" -> append, "delete" -> delete, "update" -> update,
      "merge" -> merge, "read" -> read, "compact" -> compact)
  }

  /** at most this many jobs per operation. Compaction keeps the ceiling
    * it had before the two-pass DMLs (it is not one of them). While
    * Iceberg position deletes are live, each pass of a DML may take one
    * more job and a read takes two. */
  private def budget(f: Format, positionDeletes: Boolean): Map[String, Int] = {
    val extra = if (positionDeletes) 1 else 0
    Map("create" -> 1, "append" -> 1, "delete" -> (3 + 2 * extra),
      "update" -> (3 + 2 * extra), "merge" -> (6 + 2 * extra), "read" -> (1 + extra),
      "compact" -> (if (f == Delta) 3 else 8))
  }

  Seq(Delta -> false, Iceberg -> false, Iceberg -> true).foreach { case (f, pd) =>
    val label = if (pd) s"${f.name} with live position deletes" else f.name
    test(s"$label: jobs per operation stay within the budget") {
      val got = measure(f, pd)
      info(s"$label jobs: ${got.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(" ")}")
      val over = budget(f, pd).collect { case (op, max) if got(op) > max =>
        s"$op ran ${got(op)} jobs (budget $max)" }
      assert(over.isEmpty, s"$label: ${over.mkString("; ")}")
    }
  }

  // the merge writes a victim file's surviving rows from the task that
  // read that file (an anti-join against the source keys), never
  // scattered by key hash across the write's tasks, so a rewritten
  // file keeps the narrow key range of the file it replaces
  Seq(Delta, Iceberg).foreach { f =>
    test(s"${f.name}: merge keeps each victim file's survivors together") {
      val dir = tempTable(s"graft_keep_${f.name}")
      f.create(rows(0L, 40L, "a"), dir) // files 0..19 and 20..39
      f.append(rows(40L, 80L, "b"), dir) // files 40..59 and 60..79
      val src = (Seq(5L, 45L) ++ (200L until 205L)).map(i => (i, "m", i)).toDF("id", "v", "n")
      assert(f.merge(dir, src) == (2L, 5L))
      val fileOf = f.read(dir).select(col("id"), input_file_name().as("f"))
        .as[(Long, String)].collect().toMap
      assert(fileOf.values.forall(_.nonEmpty), "the read names each row's file")
      Seq((0L until 20L).filter(_ != 5L), (40L until 60L).filter(_ != 45L)).foreach { ids =>
        assert(ids.map(fileOf).distinct.size == 1, s"survivors ${ids.head}.. span files")
      }
      assert(fileOf(0L) != fileOf(40L), "two victim files' survivors share one file")
    }
  }
}
