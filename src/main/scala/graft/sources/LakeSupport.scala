package graft.sources

import java.util.ConcurrentModificationException

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile

/** Plumbing the lakehouse writers ([[DeltaWrite]], [[IcebergWrite]])
  * and the sinks beside them share: JSON string literals, one Jackson
  * mapper, UTF-8 control-file reads, parquet footer reads, bounded
  * parallel footer I/O, and the optimistic-concurrency retry loop. */
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
}
