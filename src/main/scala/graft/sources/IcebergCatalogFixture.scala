package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** In-process REST-catalog fixture over ONE table directory — the
  * deterministic server half of the [[IcebergCatalog]] commit gate
  * (the HTTP loopback twin lives in `IcebergCatalogCommitSpec`; both
  * validate the same wire shapes, this one without sockets so the
  * driver-run gate stays hermetic).
  *
  * Behavior mirrors a catalog backed by client-written metadata (the
  * Nessie/JDBC deployment model): `GET /v1/config` serves a prefix,
  * `GET …/tables/{name}` serves the catalog's CURRENT metadata
  * location, and `POST …/tables/{name}` validates the
  * CommitTableRequest — `assert-table-uuid` against the table's uuid,
  * `assert-ref-snapshot-id` on `main` against the SERVED state (not
  * the directory: that is exactly the split that makes a stale client
  * 409), `add-snapshot`/`set-snapshot-ref` agreement with the staged
  * directory head — then adopts the staged metadata as the new
  * pointer. Any violated requirement answers `409 Conflict` with the
  * spec's error shape. */
object IcebergCatalogFixture {

  private val mapper = new ObjectMapper()

  final class OneTableCatalog(conf: Configuration, tableRoot: String,
      namespace: Seq[String], name: String,
      registered: Boolean = true) extends RestSql.Transport {

    private val fs = new Path(tableRoot).getFileSystem(conf)

    private def dirHeadMetaPath(): String = {
      val hint = new Path(tableRoot, "metadata/version-hint.text")
      val v = LakeSupport.readUtf8(fs, hint).trim.toInt
      s"$tableRoot/metadata/v$v.metadata.json"
    }

    /** the catalog's pointer — at the directory head when constructed
      * `registered`, absent until a `register` POST otherwise;
      * advances only through commits */
    @volatile private var servedOpt: Option[String] =
      if (registered) Some(dirHeadMetaPath()) else scala.None

    /** test seam: simulate a concurrent writer advancing the catalog */
    def pointAt(metadataLocation: String): Unit = servedOpt = Some(metadataLocation)

    def servedLocation: String = servedOpt.getOrElse(
      throw new IllegalStateException("table not registered"))

    def isRegistered: Boolean = servedOpt.isDefined

    private def served: String = servedLocation

    private def servedMeta() =
      mapper.readTree(LakeSupport.readUtf8(fs, new Path(served)))

    private def json(status: Int, body: String): RestSql.Response =
      RestSql.Response(status, Map("content-type" -> "application/json"),
        body.getBytes("UTF-8"))

    private def loadTableBody(): String = {
      val loc = mapper.createObjectNode()
      loc.put("metadata-location", served)
      loc.set[com.fasterxml.jackson.databind.node.ObjectNode](
        "metadata", mapper.createObjectNode())
      loc.set[com.fasterxml.jackson.databind.node.ObjectNode](
        "config", mapper.createObjectNode())
      mapper.writeValueAsString(loc)
    }

    private def tableUrlSuffix: String =
      s"namespaces/${namespace.mkString("%1F")}/tables/$name"

    def request(method: String, url: String, headers: Map[String, String],
        body: Option[Array[Byte]]): RestSql.Response = synchronized {
      val path = url.replaceFirst("^https?://[^/]+", "")
      (method, path) match {
        case ("GET", p) if p.endsWith("/v1/config") || p.contains("/v1/config?") =>
          json(200, """{"defaults":{},"overrides":{"prefix":"fixture"}}""")
        case ("GET", p) if p == s"/v1/fixture/$tableUrlSuffix" =>
          if (servedOpt.isEmpty)
            json(404, s"""{"error":{"message":"table $name not found","type":"NoSuchTableException","code":404}}""")
          else json(200, loadTableBody())
        case ("POST", p) if p == s"/v1/fixture/$tableUrlSuffix" =>
          if (servedOpt.isEmpty)
            json(404, s"""{"error":{"message":"table $name not found","type":"NoSuchTableException","code":404}}""")
          else commit(body.getOrElse(Array.emptyByteArray))
        case ("POST", p) if p == s"/v1/fixture/namespaces/${namespace.mkString("%1F")}/register" =>
          register(body.getOrElse(Array.emptyByteArray))
        case _ =>
          json(404, s"""{"error":{"message":"no route $method $path","type":"NoSuchRoute","code":404}}""")
      }
    }

    private def register(bodyBytes: Array[Byte]): RestSql.Response = {
      val req = mapper.readTree(bodyBytes)
      val n = Option(req.get("name")).map(_.asText()).getOrElse("")
      val loc = Option(req.get("metadata-location")).map(_.asText()).getOrElse("")
      if (n != name)
        return json(404, s"""{"error":{"message":"namespace has no slot for table $n","type":"NoSuchTableException","code":404}}""")
      if (servedOpt.isDefined)
        return json(409, s"""{"error":{"message":"table $name already exists","type":"AlreadyExistsException","code":409}}""")
      if (loc.isEmpty || !fs.exists(new Path(loc)))
        return json(400, s"""{"error":{"message":"metadata-location '$loc' unreadable","type":"BadRequest","code":400}}""")
      servedOpt = Some(loc)
      json(200, loadTableBody())
    }

    private def commit(bodyBytes: Array[Byte]): RestSql.Response = {
      val req = mapper.readTree(bodyBytes)
      val cur = servedMeta()
      val curSnap = Option(cur.get("current-snapshot-id"))
        .map(_.asLong()).filter(_ != -1L)
      val curUuid = Option(cur.get("table-uuid")).map(_.asText())

      // ---- requirements -------------------------------------------------
      val reqs = Option(req.get("requirements")).toSeq
        .flatMap(r => scala.jdk.CollectionConverters
          .IteratorHasAsScala(r.elements()).asScala.toSeq)
      for (r <- reqs) r.get("type").asText() match {
        case "assert-table-uuid" =>
          if (!curUuid.contains(r.get("uuid").asText()))
            return json(409, s"""{"error":{"message":"table uuid mismatch","type":"CommitFailedException","code":409}}""")
        case "assert-ref-snapshot-id" =>
          val ref = r.get("ref").asText()
          val want = Option(r.get("snapshot-id")).filterNot(_.isNull)
            .map(_.asLong())
          val have = if (ref == "main") curSnap
            else Option(cur.get("refs")).flatMap(n => Option(n.get(ref)))
              .map(_.get("snapshot-id").asLong())
          if (want != have)
            return json(409, s"""{"error":{"message":"requirement failed: ref $ref is at ${have.getOrElse("null")}, client asserted ${want.getOrElse("null")}","type":"CommitFailedException","code":409}}""")
        case other =>
          return json(400, s"""{"error":{"message":"unsupported requirement $other","type":"BadRequest","code":400}}""")
      }

      // ---- updates ------------------------------------------------------
      val updates = Option(req.get("updates")).toSeq
        .flatMap(u => scala.jdk.CollectionConverters
          .IteratorHasAsScala(u.elements()).asScala.toSeq)
      val added = updates.find(_.get("action").asText() == "add-snapshot")
        .map(_.get("snapshot").get("snapshot-id").asLong())
      val refd = updates.find(_.get("action").asText() == "set-snapshot-ref")
        .filter(_.get("ref-name").asText() == "main")
        .map(_.get("snapshot-id").asLong())
      if (added.isEmpty || refd.isEmpty || added != refd)
        return json(400, s"""{"error":{"message":"commit must add-snapshot and set-snapshot-ref main to it","type":"BadRequest","code":400}}""")

      // adopt the staged metadata (client-written model): the directory
      // head must BE the snapshot the updates describe
      val stagedPath = dirHeadMetaPath()
      val staged = mapper.readTree(LakeSupport.readUtf8(fs, new Path(stagedPath)))
      if (staged.get("current-snapshot-id").asLong() != added.get)
        return json(409, s"""{"error":{"message":"staged metadata head ${staged.get("current-snapshot-id").asLong()} is not the committed snapshot ${added.get}","type":"CommitFailedException","code":409}}""")
      servedOpt = Some(stagedPath)
      json(200, loadTableBody())
    }
  }

  /** a [[IcebergCatalog.Connection]] over an in-process one-table
    * catalog; returns the connection and the server (for test seams) */
  def oneTableConnection(conf: Configuration, tableRoot: String,
      namespace: Seq[String], name: String,
      uri: String = "https://catalog.fixture",
      registered: Boolean = true): (IcebergCatalog.Connection, OneTableCatalog) = {
    val server = new OneTableCatalog(conf, tableRoot, namespace, name, registered)
    (IcebergCatalog.Connection(uri, transport = server), server)
  }
}
