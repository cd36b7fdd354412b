package graft

import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.FileTime

/** The fixture schema memo behind `SparkEntry.t` keys on what
  * determines the schema — the part files — so a part file rewritten
  * in place (directory mtime and listing unchanged) is re-inferred. */
class FixtureSchemaSpec extends SparkSpec {
  import spark.implicits._

  /** the single data part file of a parquet directory */
  private def partOf(dir: JPath): JPath = {
    val parts = Files.list(dir).toArray.map(_.asInstanceOf[JPath])
      .filter(p => p.getFileName.toString.startsWith("part-") &&
        p.getFileName.toString.endsWith(".parquet"))
    assert(parts.length == 1, parts.mkString(", "))
    parts.head
  }

  /** the checksum sidecar Hadoop's local filesystem keeps beside `part` */
  private def crcOf(part: JPath): JPath =
    part.resolveSibling(s".${part.getFileName}.crc")

  test("a part file rewritten in place with a new schema is re-inferred") {
    val base = Files.createTempDirectory("graft_tmemo")
    val table = base.resolve("t.parquet")
    Seq((1L, "a")).toDF("id", "v").coalesce(1).write.parquet(table.toString)
    assert(SparkEntry.t(spark, base.toString, "t").df.columns.toSeq == Seq("id", "v"))

    // the same path, new bytes: copy another table's part (and its
    // checksum) over the original IN PLACE — no file is added, removed
    // or renamed, so the directory's own mtime and length stay put
    val other = base.resolve("other")
    Seq((2L, 3.5, true)).toDF("key", "score", "flag").coalesce(1)
      .write.parquet(other.toString)
    val part = partOf(table)
    val dirMtime = Files.getLastModifiedTime(table)
    val partMtime = Files.getLastModifiedTime(part)
    Files.write(part, Files.readAllBytes(partOf(other)))
    Files.write(crcOf(part), Files.readAllBytes(crcOf(partOf(other))))
    Files.setLastModifiedTime(part, FileTime.fromMillis(partMtime.toMillis + 1000))
    assert(Files.getLastModifiedTime(table) == dirMtime)

    val reread = SparkEntry.t(spark, base.toString, "t").df
    assert(reread.columns.toSeq == Seq("key", "score", "flag"))
    assert(reread.as[(Long, Double, Boolean)].collect().toSeq == Seq((2L, 3.5, true)))
  }
}
