package graft.sources

import java.net.URLEncoder
import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.model.MoleculeRecord
import graft.sources.HttpPaginatedSource.{Cursor, Page}

/** Generic JSON-over-HTTP paginated connector config + page codec —
  * the concrete realization of the reference's `BaseHttpConnector`
  * (/root/reference/src/open_molecule_data_pipeline/ingestion/
  * common.py:150-243): GET `base_url/endpoint` with `params ∪ cursor ∪
  * {batch_param: batch_size}`, extract records at `records_path`, map
  * each item through `id_field`/`smiles_field`/`metadata_fields`, and
  * derive the next cursor from `next_cursor_path` (a JSON object
  * becomes the cursor verbatim; a scalar is wrapped under
  * `cursor_param`).
  *
  * Everything here is driver-side protocol plumbing (pagination is
  * protocol-serial); the resulting `Cursor => Page` plugs into
  * [[HttpPaginatedSource.run]] (batch, checkpointed), which
  * distributes each page's records cluster-wide immediately.
  */
object HttpJsonSource {

  final case class HttpConfig(
      name: String,
      baseUrl: String,
      endpoint: String,
      batchParam: String = "batch_size",
      cursorParam: Option[String] = Some("cursor"),
      params: Map[String, String] = Map.empty,
      headers: Map[String, String] = Map.empty,
      startCursor: Map[String, String] = Map.empty,
      recordsPath: Seq[String] = Seq("records"),
      nextCursorPath: Seq[String] = Seq("next"),
      idField: String = "id",
      smilesField: String = "smiles",
      metadataFields: Seq[String] = Seq.empty,
      batchSize: Int = 1000)

  /** ChemSpider preset (reference chemspider.py:10-21). */
  def chemspider(name: String, batchSize: Int = 1000): HttpConfig = HttpConfig(
    name = name,
    baseUrl = "https://api.rsc.org",
    endpoint = "compounds/v1/filter/smiles",
    batchParam = "count",
    cursorParam = Some("token"),
    recordsPath = Seq("results"),
    nextCursorPath = Seq("next"),
    idField = "csid",
    smilesField = "smiles",
    metadataFields = Seq("inchi_key", "formula"),
    batchSize = batchSize)

  /** Build an HttpConfig from flat CLI source options (all strings).
    * `sourceType == "chemspider"` starts from the ChemSpider preset;
    * any option overrides the preset field. List-valued fields are
    * comma-separated; `params`/`headers`/`start_cursor` are
    * `k=v,k=v` pairs. An empty `cursor_param` disables scalar-cursor
    * wrapping (reference `cursor_param: None`).
    */
  def fromOptions(name: String, sourceType: String,
      options: Map[String, String], batchSize: Int): HttpConfig = {
    val base =
      if (sourceType == "chemspider") chemspider(name, batchSize)
      else HttpConfig(name = name,
        baseUrl = options.getOrElse("base_url",
          throw new IllegalArgumentException(s"http source '$name' missing base_url")),
        endpoint = options.getOrElse("endpoint",
          throw new IllegalArgumentException(s"http source '$name' missing endpoint")),
        batchSize = batchSize)
    def list(k: String): Option[Seq[String]] =
      options.get(k).map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
    def pairs(k: String): Option[Map[String, String]] =
      list(k).map(_.map { kv =>
        val i = kv.indexOf('=')
        require(i > 0, s"option '$k' expects k=v pairs, got '$kv'")
        kv.take(i) -> kv.drop(i + 1)
      }.toMap)
    base.copy(
      baseUrl = options.getOrElse("base_url", base.baseUrl),
      endpoint = options.getOrElse("endpoint", base.endpoint),
      batchParam = options.getOrElse("batch_param", base.batchParam),
      cursorParam = options.get("cursor_param")
        .map(v => Option(v).filter(_.nonEmpty)).getOrElse(base.cursorParam),
      params = pairs("params").getOrElse(base.params),
      headers = pairs("headers").getOrElse(base.headers),
      startCursor = pairs("start_cursor").getOrElse(base.startCursor),
      recordsPath = list("records_path").getOrElse(base.recordsPath),
      nextCursorPath = list("next_cursor_path").getOrElse(base.nextCursorPath),
      idField = options.getOrElse("id_field", base.idField),
      smilesField = options.getOrElse("smiles_field", base.smilesField),
      metadataFields = list("metadata_fields").getOrElse(base.metadataFields))
  }

  private def enc(s: String) = URLEncoder.encode(s, StandardCharsets.UTF_8)

  /** GET URL for one page: config params, then cursor (overriding),
    * then the batch-size param (reference common.py:186-193).
    */
  def buildUrl(config: HttpConfig, cursor: Cursor): String = {
    val qp = (config.params ++ cursor) + (config.batchParam -> config.batchSize.toString)
    val qs = qp.toSeq.sortBy(_._1).map { case (k, v) => s"${enc(k)}=${enc(v)}" }
      .mkString("&")
    s"${config.baseUrl.stripSuffix("/")}/${config.endpoint.stripPrefix("/")}?$qs"
  }

  private val mapper = new ObjectMapper()

  private def jsonPath(node: JsonNode, path: Seq[String]): Option[JsonNode] =
    path.foldLeft(Option(node)) { (cur, key) =>
      cur.flatMap(n => Option(n.get(key))).filterNot(_.isNull)
    }

  private def textOf(n: JsonNode): String =
    if (n.isTextual) n.asText() else n.toString

  /** Decode one JSON payload into records + next cursor (reference
    * common.py:195-215 `_parse_records` / `_next_cursor`): records at
    * `records_path` (absent → empty page), per-item id/smiles fields
    * stringified, metadata = `metadata_fields` (or, when empty, every
    * key) minus the id/smiles fields.
    */
  def parsePage(config: HttpConfig, payload: String): Page = {
    val root = mapper.readTree(payload)
    val records = jsonPath(root, config.recordsPath).toSeq
      .flatMap(arr => (0 until arr.size).map(arr.get))
      .filter(_.isObject)
      .map { item =>
        val id = Option(item.get(config.idField)).map(textOf).getOrElse("")
        val smiles = Option(item.get(config.smilesField)).map(textOf).getOrElse("")
        val keys =
          if (config.metadataFields.nonEmpty) config.metadataFields
          else {
            val it = item.fieldNames()
            val b = Seq.newBuilder[String]
            while (it.hasNext) b += it.next()
            b.result()
          }
        val meta = keys
          .filter(k => k != config.idField && k != config.smilesField)
          .flatMap(k => Option(item.get(k)).filterNot(_.isNull).map(k -> textOf(_)))
          .toMap
        MoleculeRecord(config.name, id, smiles, meta)
      }
    val next: Option[Cursor] = jsonPath(root, config.nextCursorPath).flatMap { v =>
      if (v.isObject) {
        val it = v.properties().iterator()
        val b = Map.newBuilder[String, String]
        while (it.hasNext) { val e = it.next(); b += e.getKey -> textOf(e.getValue) }
        Some(b.result())
      } else config.cursorParam.map(p => Map(p -> textOf(v)))
    }
    Page(records, next)
  }

  /** The `Cursor => Page` fetcher for [[HttpPaginatedSource.run]]:
    * build URL → execute with retry → decode.
    */
  def fetcher(config: HttpConfig,
      transport: RetryingHttp.Transport = RetryingHttp.realTransport,
      retry: RetryingHttp.Policy = RetryingHttp.Policy()): Cursor => Page =
    cursor => parsePage(config,
      RetryingHttp.execute(transport, buildUrl(config, cursor), config.headers, retry))
}

/** HTTP execution with the reference's retry contract
  * (/root/reference/src/open_molecule_data_pipeline/ingestion/
  * common.py:93-106): up to `attempts` tries with exponential backoff
  * (0.5 s doubling, capped at 5 s) on *transport* failures; a non-2xx
  * status is a terminal [[RetryingHttp.HttpError]] with no retry —
  * exactly tenacity's `retry_if_exception_type(httpx.HTTPError)`
  * semantics, where the reference re-wraps status errors outside the
  * retried type.
  *
  * The transport is `(url, headers) => (status, body)` so zero-egress
  * tests inject canned or flaky fakes; production uses
  * [[RetryingHttp.realTransport]] (java.net.http, 30 s timeout,
  * reference User-Agent convention).
  */
object RetryingHttp {

  /** (url, headers) → (status code, body). Throws IOException-like
    * exceptions on transport failure.
    */
  type Transport = (String, Map[String, String]) => (Int, String)

  final case class Policy(
      attempts: Int = 5,
      baseWaitMs: Long = 500,
      maxWaitMs: Long = 5000,
      sleep: Long => Unit = Thread.sleep)

  final class HttpError(msg: String) extends RuntimeException(msg)

  lazy val realTransport: Transport = {
    val client = java.net.http.HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofSeconds(30))
      .followRedirects(java.net.http.HttpClient.Redirect.NORMAL)
      .build()
    (url, headers) => {
      val b = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
        .timeout(java.time.Duration.ofSeconds(30))
        .header("User-Agent", "graft-ingest/1.0")
      headers.foreach { case (k, v) => b.header(k, v) }
      val resp = client.send(b.GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      (resp.statusCode(), resp.body())
    }
  }

  /** Execute with retry; returns the body of the first 2xx response.
    * Transport exceptions retry with exponential backoff; non-2xx
    * raises [[HttpError]] immediately; exhausted attempts rethrow the
    * last transport failure.
    */
  def execute(transport: Transport, url: String,
      headers: Map[String, String] = Map.empty,
      policy: Policy = Policy()): String = {
    var attempt = 0
    while (true) {
      attempt += 1
      val res =
        try Right(transport(url, headers))
        catch { case e: Exception if attempt < policy.attempts => Left(e) }
      res match {
        case Right((status, body)) =>
          if (status >= 200 && status < 300) return body
          throw new HttpError(s"HTTP $status for $url")
        case Left(_) =>
          val wait = math.min(policy.maxWaitMs,
            policy.baseWaitMs * (1L << math.min(attempt - 1, 20)))
          policy.sleep(wait)
      }
    }
    throw new IllegalStateException("unreachable")
  }
}
