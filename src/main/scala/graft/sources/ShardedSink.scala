package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}

import LakeSupport.jstr

/** Commit protocol shared by the executor-side Arrow/Avro shard
  * writers ([[ArrowWrite.writeSharded]] / [[AvroWrite.writeSharded]]):
  * tasks write uniquely-named `part-NNNNN-xxxxxxxx.<ext>` files
  * directly into the destination directory, the driver then writes a
  * `_manifest.json` naming exactly the files of the WINNING task
  * attempts and deletes any stray part files a lost speculative or
  * retried attempt left behind. Readers resolve the file set from the
  * manifest; a directory holding writer-named shards WITHOUT a
  * manifest is a job that died between task writes and the driver
  * commit, and [[listShards]] fails loudly on it, so a half-failed
  * job can never be silently half-read. The glob fallback applies
  * only to hand-assembled dirs (part files that do NOT carry the
  * writer's `part-NNNNN-xxxxxxxx` attempt-tagged name).
  *
  * The driver-side state is one (name, rows) pair per partition —
  * bounded by partition count, never by data size.
  */
private[sources] object ShardedSink {

  val ManifestName = "_manifest.json"

  /** task-side shard file name: partition id + random tag, so retried
    * attempts of the same partition never collide */
  def shardName(partitionId: Int, ext: String): String =
    f"part-$partitionId%05d-${java.util.UUID.randomUUID().toString.take(8)}%s.$ext"

  /** driver-side commit: write the manifest, then remove stray part
    * files (same prefix+ext, not in the winning set) */
  def commit(fs: FileSystem, dir: Path, ext: String,
      written: Seq[(String, Long)]): Unit = {
    val entries = written.map { case (name, rows) =>
      s"""{"name":${jstr(name)},"rows":$rows}"""
    }
    val json =
      s"""{"format":${jstr(ext)},"files":[${entries.mkString(",")}]}\n"""
    val out = fs.create(new Path(dir, ManifestName), true)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val keep = written.map(_._1).toSet
    fs.listStatus(dir).foreach { st =>
      val n = st.getPath.getName
      if (!st.isDirectory && n.startsWith("part-") && n.endsWith(s".$ext") &&
          !keep.contains(n))
        fs.delete(st.getPath, false)
    }
  }

  /** exact shape [[shardName]] produces — presence of such a file is
    * proof this directory was written by our task writers */
  private val WriterShardName = raw"part-\d{5}-[0-9a-f]{8}\.[A-Za-z0-9]+".r

  /** reader-side file resolution: manifest when present (exactly the
    * committed set). Without a manifest, writer-named shards mean the
    * job died before the driver commit → fail loudly (uncommitted
    * output must not be silently half-read); only hand-assembled part
    * files (names not matching the writer's attempt-tagged pattern)
    * take the glob fallback. */
  def listShards(fs: FileSystem, dir: Path, ext: String): Seq[String] = {
    val mf = new Path(dir, ManifestName)
    if (fs.exists(mf)) {
      val in = fs.open(mf)
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(text)
      require(node.get("format").asText() == ext,
        s"$mf declares format '${node.get("format").asText()}', expected '$ext'")
      val files = node.get("files")
      (0 until files.size()).map(i => files.get(i).get("name").asText())
    } else {
      val parts = fs.listStatus(dir).toSeq.collect {
        case st if !st.isDirectory &&
            st.getPath.getName.startsWith("part-") &&
            st.getPath.getName.endsWith(s".$ext") =>
          st.getPath.getName
      }.sorted
      val uncommitted = parts.filter(WriterShardName.pattern.matcher(_).matches)
      if (uncommitted.nonEmpty) throw new IllegalStateException(
        s"$dir holds ${uncommitted.size} writer-produced shard file(s) " +
        s"(e.g. ${uncommitted.head}) but no $ManifestName: the writing job " +
        "died before the driver commit, so the file set is not trustworthy. " +
        "Re-run the write, or (to read anyway) write a manifest naming the " +
        "files you trust.")
      parts
    }
  }
}
