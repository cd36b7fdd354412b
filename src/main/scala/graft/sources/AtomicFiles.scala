package graft.sources

import java.util.EnumSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, Options, Path}

/** CONTENT-ATOMIC publication of small control files (Delta commit
  * JSONs and `_last_checkpoint`, Iceberg `v{N}.metadata.json` and
  * `version-hint.text`).
  *
  * The pre-round-10 primitive — `fs.create(path, overwrite=false)` then
  * write — is a correct conditional-commit CAS (of two racing writers
  * exactly one creates the path) but publishes the PATH before its
  * BYTES: a concurrent reader can observe a zero-length or half-written
  * commit. Batch readers made the window unlikely; the
  * admission-controlled stream sources (which parse a commit JSON
  * microseconds after listing it) hit it deterministically and, worse,
  * memoized the empty parse — silently dropping the commit's rows.
  *
  * This helper is the standard HDFS log-store pattern: write the full
  * content to a hidden writer-private temp name, then RENAME onto the
  * target. Rename is atomic on HDFS/POSIX, so the target path either
  * doesn't exist or carries complete content — never a torn read.
  * `overwrite=false` renames with `Options.Rename.NONE` (fails with
  * `FileAlreadyExistsException`, an IOException, when the slot is
  * taken), keeping the conditional-commit semantics the OCC retry
  * loops map to ConcurrentModificationException; `overwrite=true`
  * (version hints, `_last_checkpoint`) uses `Rename.OVERWRITE` — an
  * atomic swap, so pointer readers can no longer catch the truncate
  * window of an in-place rewrite.
  *
  * Files go through a RAW `FileContext` (no client-side checksum
  * layer): on `file:` paths `FileContext` would bind the checksummed
  * `LocalFs`, so the local scheme is bound to `RawLocalFs` instead and
  * no `.crc` sidecar is produced. A STALE sidecar from an earlier
  * checksummed write of the same path is deleted first, else a
  * checksummed reader would verify the new bytes against the old sum.
  *
  * On a filesystem without an atomic rename-if-absent (the local one)
  * `FileContext` checks the target and then renames: two writers could
  * both pass the check, and the later rename would silently replace
  * the earlier commit. Conditional renames therefore run one at a time
  * in the JVM, which makes them put-if-absent for writers sharing it —
  * the same guarantee delta-spark's local log store gives. That
  * serialization is per JVM only: two PROCESSES committing to one table
  * on the local filesystem are NOT safe (both can "win" one version).
  * Only filesystems with an atomic rename-if-absent (HDFS, object
  * stores behind a conditional put) make cross-process commits safe. */
private[graft] object AtomicFiles {

  private val conditionalRename = new Object

  def publish(fs: FileSystem, file: Path, bytes: Array[Byte],
      overwrite: Boolean): Unit = {
    val dir = file.getParent
    fs.mkdirs(dir)
    val tmp = new Path(dir,
      s".${file.getName}.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    val fc = FileContext.getFileContext(file.toUri, rawConf(fs.getConf, file))
    val out = fc.create(tmp, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
      Options.CreateOpts.createParent())
    try out.write(bytes) finally out.close()
    // drop the checksummed layer's stale sidecar (pre-fix writes of this
    // path went through ChecksumFileSystem; the raw rename below would
    // leave its old `.crc` validating the new content)
    val crc = new Path(dir, s".${file.getName}.crc")
    try { if (fs.exists(crc)) fs.delete(crc, false) }
    catch { case _: java.io.IOException => () }
    try {
      if (overwrite) fc.rename(tmp, file, Options.Rename.OVERWRITE)
      else conditionalRename.synchronized(fc.rename(tmp, file, Options.Rename.NONE))
    } catch {
      case e: Throwable =>
        try fc.delete(tmp, false) catch { case _: java.io.IOException => () }
        throw e
    }
  }

  /** `conf`, with the local scheme bound to the raw (checksum-free)
    * `FileContext` filesystem when `file` is a local path */
  private def rawConf(conf: Configuration, file: Path): Configuration =
    if (!Option(file.toUri.getScheme).contains("file")) conf
    else {
      val raw = new Configuration(conf)
      raw.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.RawLocalFs")
      raw
    }

  def publishUtf8(fs: FileSystem, file: Path, content: String,
      overwrite: Boolean): Unit =
    publish(fs, file, content.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      overwrite)
}
