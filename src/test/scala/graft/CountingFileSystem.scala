package graft

import java.net.URI
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FSDataInputStream, Path, RawLocalFileSystem}

/** Test-only local filesystem under the `countfs` scheme that records
  * the path of every file it opens. Point a table at
  * `countfs:///tmp/...` after [[CountingFileSystem.register]] and every
  * read the library makes — through `FileSystem` or, via [[CountingFs]],
  * through `FileContext` (which `AtomicFiles.publish` uses) — lands in
  * [[CountingFileSystem.opened]]. */
class CountingFileSystem extends RawLocalFileSystem {
  override def getUri: URI = CountingFileSystem.Uri
  override def getScheme: String = CountingFileSystem.Scheme
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    CountingFileSystem.opened.add(f.toUri.getPath)
    super.open(f, bufferSize)
  }
}

object CountingFileSystem {
  val Scheme = "countfs"
  val Uri: URI = URI.create(s"$Scheme:///")

  /** local paths of every open, in order, across all instances */
  val opened = new ConcurrentLinkedQueue[String]()

  /** map the scheme to this filesystem for both Hadoop client APIs */
  def register(conf: Configuration): Unit = {
    conf.set(s"fs.$Scheme.impl", classOf[CountingFileSystem].getName)
    conf.set(s"fs.AbstractFileSystem.$Scheme.impl", classOf[CountingFs].getName)
  }

  /** a fresh empty directory, as a `countfs://` URI string */
  def tempDir(prefix: String): String =
    s"$Scheme://" + java.nio.file.Files.createTempDirectory(prefix).toString
}

/** `FileContext` binding of [[CountingFileSystem]] */
class CountingFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new CountingFileSystem, conf,
      CountingFileSystem.Scheme, false)
