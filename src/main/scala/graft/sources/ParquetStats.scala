package graft.sources

import java.math.{BigDecimal => JBigDecimal, BigInteger}
import java.time.LocalDate
import java.time.format.DateTimeFormatter

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile

import LakeSupport.jstr
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
import org.apache.parquet.schema.LogicalTypeAnnotation.{
  DateLogicalTypeAnnotation, DecimalLogicalTypeAnnotation,
  StringLogicalTypeAnnotation, TimestampLogicalTypeAnnotation}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._

/** Per-file column statistics for Delta DATA SKIPPING — the protocol's
  * `stats` JSON (`{"numRecords":…,"minValues":{…},"maxValues":{…},
  * "nullCount":{…}}`) harvested from the parquet FOOTERS of the files
  * a commit adds, plus the driver-side predicate-vs-stats evaluator
  * [[DeltaScan]] uses to prune files before the scan is planned.
  *
  * Why footers: parquet row groups already carry min/max/null counts —
  * reading them back is pure METADATA I/O (one ~KB footer per file,
  * driver-side, same order as the file listing the commit already
  * does), never a second pass over the data. At 100 TB the stats are
  * what turns a needle query (`WHERE ts BETWEEN …`) from a full-corpus
  * scan into a handful of file reads — the lakehouse feature that
  * matters most after partition pruning, and its complement for
  * columns partitioning can't cover (high-cardinality ids, times).
  *
  * Correctness stance: stats are CONSERVATIVE or absent. A column's
  * min/max is emitted only when every row group has usable non-null
  * bounds; any doubt (NaN floats, >1 KB strings that may be
  * writer-truncated, unsupported physical types, all-null row groups)
  * drops the column from min/max, and the pruner keeps every file it
  * cannot prove out. Compare domains: numbers as BigDecimal,
  * strings/dates/timestamps lexicographically (the serialized forms
  * are chosen sortable: ISO dates, fixed-width micros timestamps).
  */
object ParquetStats {

  private val tsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS")

  /** The stats JSON for one data file, or None when the footer is
    * unreadable (the add action then simply carries no stats). */
  def statsJson(conf: Configuration, file: Path): Option[String] =
    try {
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
      try statsJson(reader.getFooter) finally reader.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** [[statsJson]] of an already-read footer */
  def statsJson(footer: ParquetMetadata): Option[String] =
    try {
      val blocks = footer.getBlocks.asScala.toSeq
      val numRecords = blocks.map(_.getRowCount).sum
      val fields = footer.getFileMetaData.getSchema.getFields.asScala.toSeq
      val minB = Seq.newBuilder[(String, String)]
      val maxB = Seq.newBuilder[(String, String)]
      val nullB = Seq.newBuilder[(String, String)]
      fields.filter(_.isPrimitive).foreach { f =>
        val name = f.getName
        val prim = f.asPrimitiveType()
        val chunks = blocks.flatMap(_.getColumns.asScala.find { c =>
          val p = c.getPath.toArray
          p.length == 1 && p(0) == name
        })
        if (chunks.length == blocks.length && blocks.nonEmpty) {
          val stats: Seq[Statistics[_]] = chunks.map(_.getStatistics)
          if (stats.forall(s => s != null && s.isNumNullsSet))
            nullB += ((name, stats.map(_.getNumNulls).sum.toString))
          // min/max only when EVERY row group has real non-null bounds
          if (stats.forall(s => s != null && s.hasNonNullValue)) {
            val bounds = stats.flatMap(s => jsonBounds(prim, s))
            if (bounds.length == stats.length) {
              minB += ((name, bounds.minBy(_._3)(cmpOrdering)._1))
              maxB += ((name, bounds.maxBy(_._4)(cmpOrdering)._2))
            }
          }
        }
      }
      def obj(kvs: Seq[(String, String)]): String =
        kvs.map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")
      Some(s"""{"numRecords":$numRecords,""" +
        s""""minValues":${obj(minB.result())},""" +
        s""""maxValues":${obj(maxB.result())},""" +
        s""""nullCount":${obj(nullB.result())}}""")
    } catch { case scala.util.control.NonFatal(_) => None }

  /** one row group's (minJson, maxJson, minKey, maxKey), or None when
    * the column's physical/logical type is not serialized */
  private def jsonBounds(prim: PrimitiveType, s: Statistics[_])
      : Option[(String, String, Cmp, Cmp)] = {
    def num(mn: JBigDecimal, mx: JBigDecimal) =
      Some((mn.toPlainString, mx.toPlainString, Cmp.Num(mn), Cmp.Num(mx)))
    def str(mn: String, mx: String) =
      Some((jstr(mn), jstr(mx), Cmp.Str(mn), Cmp.Str(mx)))
    def lo = s.genericGetMin
    def hi = s.genericGetMax
    (prim.getPrimitiveTypeName, prim.getLogicalTypeAnnotation) match {
      case (INT32, _: DateLogicalTypeAnnotation) =>
        str(LocalDate.ofEpochDay(lo.asInstanceOf[Number].longValue).toString,
            LocalDate.ofEpochDay(hi.asInstanceOf[Number].longValue).toString)
      case (INT32, d: DecimalLogicalTypeAnnotation) =>
        num(JBigDecimal.valueOf(lo.asInstanceOf[Number].longValue, d.getScale),
            JBigDecimal.valueOf(hi.asInstanceOf[Number].longValue, d.getScale))
      case (INT64, d: DecimalLogicalTypeAnnotation) =>
        num(JBigDecimal.valueOf(lo.asInstanceOf[Number].longValue, d.getScale),
            JBigDecimal.valueOf(hi.asInstanceOf[Number].longValue, d.getScale))
      case (INT64, t: TimestampLogicalTypeAnnotation)
          if t.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS =>
        str(micros(lo.asInstanceOf[Number].longValue),
            micros(hi.asInstanceOf[Number].longValue))
      case (INT32, _) | (INT64, _) =>
        num(JBigDecimal.valueOf(lo.asInstanceOf[Number].longValue),
            JBigDecimal.valueOf(hi.asInstanceOf[Number].longValue))
      case (DOUBLE, _) | (FLOAT, _) =>
        val mn = lo.asInstanceOf[Number].doubleValue
        val mx = hi.asInstanceOf[Number].doubleValue
        if (mn.isNaN || mx.isNaN) None
        else num(new JBigDecimal(mn), new JBigDecimal(mx))
      case (BINARY, _: StringLogicalTypeAnnotation) =>
        val mn = lo.asInstanceOf[Binary].toStringUsingUTF8
        val mx = hi.asInstanceOf[Binary].toStringUsingUTF8
        // >1 KB bounds may be writer-truncated (an invalid upper bound):
        // drop the column rather than risk a wrong prune
        if (mn.length > 1024 || mx.length > 1024) None else str(mn, mx)
      case (FIXED_LEN_BYTE_ARRAY, d: DecimalLogicalTypeAnnotation) =>
        num(new JBigDecimal(new BigInteger(lo.asInstanceOf[Binary].getBytes), d.getScale),
            new JBigDecimal(new BigInteger(hi.asInstanceOf[Binary].getBytes), d.getScale))
      case _ => None
    }
  }

  /** fixed-width sortable micros-precision timestamp (matches the form
    * Literal timestamps are rendered to in [[mayMatch]]) */
  /** public bridge for [[IcebergStats]]' timestamp decoding */
  private[sources] def microsString(us: Long): String = micros(us)

  private def micros(us: Long): String = {
    val secs = Math.floorDiv(us, 1000000L)
    val frac = Math.floorMod(us, 1000000L)
    java.time.LocalDateTime.ofEpochSecond(secs, frac.toInt * 1000,
      java.time.ZoneOffset.UTC).format(tsFmt)
  }

  /** merge-key for min-of-mins / max-of-maxes across row groups */
  sealed trait Cmp
  object Cmp {
    final case class Num(v: JBigDecimal) extends Cmp
    final case class Str(v: String) extends Cmp
  }
  private val cmpOrdering: Ordering[Cmp] = new Ordering[Cmp] {
    def compare(a: Cmp, b: Cmp): Int = (a, b) match {
      case (Cmp.Num(x), Cmp.Num(y)) => x.compareTo(y)
      case (Cmp.Str(x), Cmp.Str(y)) => x.compareTo(y)
      case _ => 0
    }
  }

  // ---- pruning: predicate vs one file's parsed stats --------------------

  /** Column → its ANALYZED Catalyst expression, resolved against
    * `schema` via an empty-relation Filter plan — the public-API route
    * to the tree now that `Column.expr` is internal. Type coercion has
    * run, so literals may arrive wrapped in foldable Casts; the
    * evaluator folds those. */
  def predicateExpr(spark: org.apache.spark.sql.SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      c: org.apache.spark.sql.Column): org.apache.spark.sql.catalyst.expressions.Expression = {
    val empty = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    empty.filter(c).queryExecution.analyzed match {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
      case other => throw new IllegalStateException(
        s"filter plan expected, got ${other.getClass.getName}")
    }
  }

  /** One file's stats as the pruner consumes them. Values are the JSON
    * scalars re-typed: numbers → BigDecimal, strings → String. */
  final case class FileStats(
      numRecords: Long,
      min: Map[String, Any],
      max: Map[String, Any],
      nullCount: Map[String, Long])

  def parse(statsJson: String): Option[FileStats] =
    try {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val node = mapper.readTree(statsJson)
      def scalars(field: String): Map[String, Any] =
        Option(node.get(field)).map { o =>
          o.fields().asScala.flatMap { e =>
            val v = e.getValue
            if (v.isNumber) Some(e.getKey -> v.decimalValue())
            else if (v.isTextual) Some(e.getKey -> v.asText())
            else None
          }.toMap
        }.getOrElse(Map.empty)
      val nulls = Option(node.get("nullCount")).map { o =>
        o.fields().asScala.collect {
          case e if e.getValue.isNumber => e.getKey -> e.getValue.asLong()
        }.toMap
      }.getOrElse(Map.empty[String, Long])
      Some(FileStats(
        Option(node.get("numRecords")).map(_.asLong()).getOrElse(-1L),
        scalars("minValues"), scalars("maxValues"), nulls))
    } catch { case scala.util.control.NonFatal(_) => None }

  // literal → comparable, aligned with the serialized stats domains.
  // ANY resolved deterministic expression with NO column references
  // evaluates first — a filter written as to_timestamp('2021-03-05')
  // or date_add(...) is as prunable as a bare literal (the analyzed
  // condition has not been constant-folded, and RuntimeReplaceable
  // wrappers report foldable=false even when their value is fixed).
  // Folding is MEMOIZED: mayMatch runs once per candidate FILE, and
  // re-eval'ing a constant subexpression (worst case a no-arg
  // deterministic UDF) per file per comparison is wasted work —
  // deterministic + reference-free makes the value a pure function of
  // the expression tree, so structural keying is sound. The cache is
  // bounded (cleared past 1024 entries) so long-lived sessions with
  // many distinct predicates can't grow it without limit.
  private val foldCache =
    new java.util.concurrent.ConcurrentHashMap[
      org.apache.spark.sql.catalyst.expressions.Expression, Option[Any]]()

  private[sources] def litVal(
      e: org.apache.spark.sql.catalyst.expressions.Expression): Option[Any] = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    e match {
      case f if !f.isInstanceOf[Literal] && f.resolved && f.deterministic &&
          f.references.isEmpty =>
        if (foldCache.size > 1024) foldCache.clear()
        foldCache.computeIfAbsent(f, fe =>
          scala.util.Try(Literal(fe.eval(null), fe.dataType)).toOption.flatMap(litVal))
      case Literal(v, dt) if v != null => dt match {
        case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType =>
          Some(new JBigDecimal(v.toString))
        case _: org.apache.spark.sql.types.DecimalType =>
          Some(v.asInstanceOf[org.apache.spark.sql.types.Decimal].toJavaBigDecimal)
        case org.apache.spark.sql.types.DoubleType =>
          val d = v.asInstanceOf[Double]
          if (d.isNaN || d.isInfinite) None else Some(new JBigDecimal(d))
        case org.apache.spark.sql.types.FloatType =>
          val d = v.asInstanceOf[Float].toDouble
          if (d.isNaN || d.isInfinite) None else Some(new JBigDecimal(d))
        case org.apache.spark.sql.types.StringType => Some(v.toString)
        case org.apache.spark.sql.types.DateType =>
          Some(LocalDate.ofEpochDay(v.asInstanceOf[Int].toLong).toString)
        case org.apache.spark.sql.types.TimestampType |
             org.apache.spark.sql.types.TimestampNTZType =>
          Some(micros(v.asInstanceOf[Long]))
        case _ => None
      }
      case _ => None
    }
  }

  /** true ⇔ the file MAY contain rows matching `pred`; false only when
    * the stats PROVE it cannot. Unknown expression shapes, missing
    * stats, and type mismatches all answer true (keep the file). */
  def mayMatch(
      stats: Option[FileStats],
      pred: org.apache.spark.sql.catalyst.expressions.Expression): Boolean = {
    import org.apache.spark.sql.catalyst.expressions._
    val st = stats.getOrElse(return true)

    def name(e: Expression): Option[String] = e match {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        Some(a.nameParts.mkString("."))
      case a: AttributeReference => Some(a.name)
      case _ => None
    }
    def litVal(e: Expression): Option[Any] = ParquetStats.litVal(e)
    def cmp(a: Any, b: Any): Option[Int] = (a, b) match {
      case (x: JBigDecimal, y: JBigDecimal) => Some(x.compareTo(y))
      case (x: String, y: String) => Some(x.compareTo(y))
      case _ => None
    }
    def allNull(c: String): Boolean =
      st.numRecords > 0 && st.nullCount.get(c).contains(st.numRecords)
    def mayEqual(n: String, v: Any): Boolean = {
      val loOk = st.min.get(n).flatMap(mn => cmp(v, mn)).forall(_ >= 0)
      val hiOk = st.max.get(n).flatMap(mx => cmp(v, mx)).forall(_ <= 0)
      loOk && hiOk
    }
    /** col(n) OP v with OP ∈ {>, >=} when greater else {<, <=} */
    def mayIneq(n: String, v: Any, strict: Boolean, greater: Boolean): Boolean =
      if (greater)
        st.max.get(n).flatMap(mx => cmp(mx, v)).forall(c => if (strict) c > 0 else c >= 0)
      else
        st.min.get(n).flatMap(mn => cmp(mn, v)).forall(c => if (strict) c < 0 else c <= 0)
    /** normalize `lit OP col` to `col OP' lit` */
    def sides(l: Expression, r: Expression): Option[(String, Any, Boolean)] =
      (name(l), litVal(r)) match {
        case (Some(n), Some(v)) => Some((n, v, false))
        case _ => (name(r), litVal(l)) match {
          case (Some(n), Some(v)) => Some((n, v, true))
          case _ => None
        }
      }
    def check(e: Expression): Boolean = e match {
      case And(l, r) => check(l) && check(r)
      case Or(l, r) => check(l) || check(r)
      case EqualTo(l, r) => sides(l, r) match {
        case Some((n, v, _)) => !allNull(n) && mayEqual(n, v)
        case None => true
      }
      case GreaterThan(l, r) => sides(l, r) match {
        case Some((n, v, flip)) => !allNull(n) && mayIneq(n, v, strict = true, greater = !flip)
        case None => true
      }
      case GreaterThanOrEqual(l, r) => sides(l, r) match {
        case Some((n, v, flip)) => !allNull(n) && mayIneq(n, v, strict = false, greater = !flip)
        case None => true
      }
      case LessThan(l, r) => sides(l, r) match {
        case Some((n, v, flip)) => !allNull(n) && mayIneq(n, v, strict = true, greater = flip)
        case None => true
      }
      case LessThanOrEqual(l, r) => sides(l, r) match {
        case Some((n, v, flip)) => !allNull(n) && mayIneq(n, v, strict = false, greater = flip)
        case None => true
      }
      case IsNull(c) => name(c).forall(n =>
        st.numRecords <= 0 || st.nullCount.get(n).forall(_ > 0))
      case IsNotNull(c) => name(c).forall(n => !allNull(n))
      case In(c, vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[Literal]) =>
        name(c) match {
          case Some(n) =>
            !allNull(n) && vs.exists(v => litVal(v).forall(mayEqual(n, _)))
          case None => true
        }
      case _ => true
    }
    check(pred)
  }
}
