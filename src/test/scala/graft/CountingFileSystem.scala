package graft

import java.io.IOException
import java.net.URI
import java.nio.file.{Files, Path => JPath, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FSDataInputStream, FSDataOutputStream, LocatedFileStatus, Path, RawLocalFileSystem, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Test-only local filesystem under the `countfs` scheme that records
  * the path of every file it opens. Point a table at
  * `countfs:///tmp/...` after [[CountingFileSystem.register]] and every
  * read the library makes — through `FileSystem` or, via [[CountingFs]],
  * through `FileContext` (which `AtomicFiles.publish` uses) — lands in
  * [[CountingFileSystem.opened]]. It also counts every create and
  * rename of a path under a `metadata/` (Iceberg) or `_delta_log/`
  * (Delta) directory, and every delete there or of staged data (a
  * `.staging-*` or `data/` directory, a parquet file), and, when armed
  * with [[CountingFileSystem.failAt]], throws IOException on the k-th
  * one. Both Hadoop client APIs delete through [[delete]]. */
class CountingFileSystem extends RawLocalFileSystem {
  override def getUri: URI = CountingFileSystem.Uri
  override def getScheme: String = CountingFileSystem.Scheme
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    CountingFileSystem.opened.add(f.toUri.getPath)
    super.open(f, bufferSize)
  }
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    CountingFileSystem.mutate(f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    CountingFileSystem.mutate(f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    if (CountingFileSystem.staged(f)) CountingFileSystem.count(f)
    else CountingFileSystem.mutate(f)
    super.delete(f, recursive)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    CountingFileSystem.beforeRename()
    CountingFileSystem.mutate(dst)
    super.rename(src, dst)
  }
  // the inherited LocatedFileStatus reads each file's permission through
  // java.io.File, which takes `file:` URIs only; no permission, as
  // Spark's own file listing builds them
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    val it = listStatus(f).iterator
    new RemoteIterator[LocatedFileStatus] {
      def hasNext: Boolean = it.hasNext
      def next(): LocatedFileStatus = {
        val s = it.next()
        new LocatedFileStatus(s.getLen, s.isDirectory, s.getReplication, s.getBlockSize,
          s.getModificationTime, 0L, null, null, null, null, s.getPath, null)
      }
    }
  }
}

object CountingFileSystem {
  val Scheme = "countfs"
  val Uri: URI = URI.create(s"$Scheme:///")

  /** local paths of every open, in order, across all instances */
  val opened = new ConcurrentLinkedQueue[String]()

  /** creates, renames and deletes counted since the last [[failAt]] */
  val mutations = new AtomicInteger(0)
  @volatile private var failing = 0

  /** runs at the start of every rename — `FileContext`'s conditional
    * rename has already checked that the target is absent */
  @volatile var beforeRename: () => Unit = () => ()

  /** count mutations from zero; the `k`-th throws (0: never) */
  def failAt(k: Int): Unit = { mutations.set(0); failing = k }

  private def mutate(p: Path): Unit =
    if (p.toUri.getPath.contains("/metadata/") || p.toUri.getPath.contains("/_delta_log/"))
      count(p)

  /** staged data: a writer's staging directory or data directory, or a
    * data file */
  private def staged(p: Path): Boolean = {
    val s = p.toUri.getPath
    s.contains("/.staging-") || s.contains("/data/") || s.endsWith(".parquet")
  }

  private def count(p: Path): Unit = {
    val n = mutations.incrementAndGet()
    if (n == failing) throw new IOException(s"injected fault at mutation $n: $p")
  }

  /** map the scheme to this filesystem for both Hadoop client APIs */
  def register(conf: Configuration): Unit = {
    conf.set(s"fs.$Scheme.impl", classOf[CountingFileSystem].getName)
    conf.set(s"fs.AbstractFileSystem.$Scheme.impl", classOf[CountingFs].getName)
  }

  /** a fresh empty directory, as a `countfs://` URI string */
  def tempDir(prefix: String): String =
    s"$Scheme://" + java.nio.file.Files.createTempDirectory(prefix).toString

  /** a source of fresh copies of the table at `<dir>/base` (a
    * [[tempDir]]): each call copies it to a new sibling `<dir>/t<n>`
    * and returns that. Both formats log table-relative paths. */
  def copies(dir: String): () => String = {
    val local = Paths.get(dir.stripPrefix(s"$Scheme://"))
    var n = 0
    () => {
      n += 1
      val src = local.resolve("base")
      val dst = local.resolve(s"t$n")
      Files.walk(src).iterator().asScala.toSeq.foreach { p: JPath =>
        Files.copy(p, dst.resolve(src.relativize(p).toString))
      }
      s"$dir/t$n"
    }
  }
}

/** `FileContext` binding of [[CountingFileSystem]] */
class CountingFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new CountingFileSystem, conf,
      CountingFileSystem.Scheme, false)
