package graft.sources

import java.io.{ByteArrayOutputStream, InputStream, OutputStream}
import java.net.{HttpURLConnection, InetSocketAddress, URL}
import java.nio.charset.StandardCharsets.UTF_8

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.operators.JsonSchema

/** The schema registry's HTTP WIRE PROTOCOL over the file-backed
  * [[FileSchemaRegistry]] — the REST surface + serde framing a
  * Confluent/Redpanda registry deployment exposes (the reference
  * registers `transactions-schema.json` against exactly this API,
  * `docker-compose/docker-compose.yml:294-313`), implemented from the
  * PUBLIC protocol spec so the integration path that was previously
  * library-call-only now executes over a real localhost HTTP
  * round-trip in-sandbox:
  *
  *  - `POST /subjects/{s}/versions` body `{"schema": "...",
  *    "schemaType": "JSON"}` → `{"id": N}`; `409 {"error_code": 409}`
  *    on a BACKWARD-incompatible evolution; `422 {"error_code":
  *    42201}` on an unparsable schema document.
  *  - `GET /subjects` → `["s1", ...]`
  *  - `GET /subjects/{s}/versions` → `[1, 2, ...]`; `404 40401` for
  *    an unknown subject.
  *  - `GET /subjects/{s}/versions/{v|latest}` →
  *    `{subject, version, id, schemaType, schema}`; `404 40402` for a
  *    missing version.
  *  - `GET /schemas/ids/{id}` → `{schemaType, schema}`; `404 40403`.
  *  - `POST /compatibility/subjects/{s}/versions/latest` →
  *    `{"is_compatible": bool}`.
  *
  * plus the serde FRAMING every registry-aware producer writes: magic
  * byte `0x00`, 4-byte big-endian schema id, payload bytes
  * ([[SchemaRegistryWire]]). Registration, compatibility gating and
  * version storage all delegate to [[FileSchemaRegistry]] — the HTTP
  * layer is a faithful wire adapter, so the semantics specs and this
  * protocol spec pin the same store. Control-plane only: schema
  * documents are a handful of KB fetched once per (client, id) and
  * cached, never per record — at 100 TB the registry cost is the same
  * dozen HTTP calls it is here. */
object HttpSchemaRegistry {

  private[sources] val Json = new ObjectMapper()
  private[sources] val ContentType = "application/vnd.schemaregistry.v1+json"

  /** Registry-aware PRODUCER: fetch the subject's LATEST schema over
    * HTTP, validate each record value through the codegen'd
    * [[JsonSchema.isValid]] predicate, frame the valid ones with the
    * schema id ([[SchemaRegistryWire]]) and append them base64'd to
    * the topic. Returns (schemaId, validCount, rejectedCount). The
    * records Seq is driver-local by construction (the producer seam —
    * data starts here, like a Kafka producer's send buffer). */
  def validatedProduce(spark: org.apache.spark.sql.SparkSession,
      client: HttpSchemaRegistryClient, topicsRoot: String, topic: String,
      numPartitions: Int, subject: String,
      records: Seq[(String, String)]): (Int, Int, Int) = {
    val (_, schemaId, doc) = client.latest(subject)
    val (good, rejected) = FileSchemaRegistry.splitValid(spark, records, doc)
    FileTopics.append(topicsRoot, topic, numPartitions,
      good.map { case (k, v) =>
        (k, java.util.Base64.getEncoder.encodeToString(
          SchemaRegistryWire.encode(schemaId, v)))
      })
    (schemaId, good.length, rejected)
  }

  /** Registry-aware CONSUMER, the data-plane half: a DISTRIBUTED scan
    * of a framed topic's logs — text scan → url_decode → unbase64 →
    * frame fields, all codegen'd Column expressions (no UDF, no
    * driver loop). Columns: `key, magic_ok, schema_id, payload`.
    * Schema RESOLUTION stays control-plane: callers take the distinct
    * `schema_id`s (bounded — one per registered version) and resolve
    * each once through [[HttpSchemaRegistryClient.byId]]'s cache. */
  def framedTopic(spark: org.apache.spark.sql.SparkSession,
      topicsRoot: String, topic: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    spark.read.textFile(s"$topicsRoot/$topic/p*.log").toDF("line")
      .select(
        url_decode(substring_index(col("line"), "\t", 1)).as("key"),
        unbase64(url_decode(substring_index(col("line"), "\t", -1)))
          .as("frame"))
      .select(col("key"),
        (expr("substring(frame, 1, 1)") === lit(Array[Byte](0x00)))
          .as("magic_ok"),
        expr("cast(conv(hex(substring(frame, 2, 4)), 16, 10) as int)")
          .as("schema_id"),
        expr("cast(substring(frame, 6, length(frame) - 5) as string)")
          .as("payload"))
  }
}

/** A non-2xx registry response, carrying the protocol's error code. */
final case class RegistryHttpException(status: Int, errorCode: Int,
    message: String)
  extends RuntimeException(s"HTTP $status registry error $errorCode: $message")

/** Confluent serde framing: `0x00 | int32 schema id (big-endian) |
  * payload`. The file-topic log is a TEXT transport, so framed
  * records ride base64 in the value column; a real broker carries the
  * same bytes raw. */
object SchemaRegistryWire {

  val Magic: Byte = 0x00

  def encode(schemaId: Int, payload: String): Array[Byte] = {
    val p = payload.getBytes(UTF_8)
    val out = new Array[Byte](5 + p.length)
    out(0) = Magic
    out(1) = (schemaId >>> 24).toByte
    out(2) = (schemaId >>> 16).toByte
    out(3) = (schemaId >>> 8).toByte
    out(4) = schemaId.toByte
    System.arraycopy(p, 0, out, 5, p.length)
    out
  }

  def decode(frame: Array[Byte]): (Int, String) = {
    require(frame.length >= 5 && frame(0) == Magic,
      s"not a registry-framed record (len=${frame.length})")
    val id = ((frame(1) & 0xff) << 24) | ((frame(2) & 0xff) << 16) |
      ((frame(3) & 0xff) << 8) | (frame(4) & 0xff)
    (id, new String(frame, 5, frame.length - 5, UTF_8))
  }
}

/** Localhost registry server on an ephemeral port; `start()` returns
  * the bound port. Thread-per-exchange is fine: the registry is
  * control-plane (a handful of schema documents), never data-plane. */
final class HttpSchemaRegistryServer(root: String) {

  import HttpSchemaRegistry.{ContentType, Json}

  private var server: HttpServer = _
  private var pool: java.util.concurrent.ExecutorService = _

  def start(): Int = synchronized {
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", handle _)
    // the default (null) executor runs exchanges serially on the
    // dispatcher thread — one slow client would block all others;
    // a cached pool delivers the thread-per-exchange the doc promises
    pool = java.util.concurrent.Executors.newCachedThreadPool()
    server.setExecutor(pool)
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = synchronized {
    if (server != null) { server.stop(0); server = null }
    // the cached pool's non-daemon workers otherwise keep the JVM
    // alive up to their 60 s idle timeout, and repeated start/stop
    // cycles would leak one pool each
    if (pool != null) { pool.shutdown(); pool = null }
  }

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val b = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", ContentType)
    ex.sendResponseHeaders(code, b.length)
    val os: OutputStream = ex.getResponseBody
    try os.write(b) finally os.close()
  }

  private def error(ex: HttpExchange, http: Int, code: Int, msg: String): Unit = {
    val n = Json.createObjectNode()
    n.put("error_code", code); n.put("message", msg)
    respond(ex, http, n.toString)
  }

  private def readBody(ex: HttpExchange): String = {
    val in: InputStream = ex.getRequestBody
    val buf = new ByteArrayOutputStream()
    val tmp = new Array[Byte](4096)
    var n = in.read(tmp)
    while (n >= 0) { buf.write(tmp, 0, n); n = in.read(tmp) }
    new String(buf.toByteArray, UTF_8)
  }

  private def versionJson(r: FileSchemaRegistry.Registered): String = {
    val n = Json.createObjectNode()
    n.put("subject", r.subject); n.put("version", r.version)
    n.put("id", r.id); n.put("schemaType", "JSON"); n.put("schema", r.doc)
    n.toString
  }

  private def handle(ex: HttpExchange): Unit =
    try route(ex)
    catch {
      case e: Exception => error(ex, 500, 50001, String.valueOf(e.getMessage))
    } finally ex.close()

  private def route(ex: HttpExchange): Unit = {
    val method = ex.getRequestMethod
    val parts = ex.getRequestURI.getPath.split("/").filter(_.nonEmpty).toSeq
    (method, parts) match {
      case ("GET", Seq("subjects")) =>
        val arr = Json.createArrayNode()
        val subjects = Option(new java.io.File(root).listFiles())
          .getOrElse(Array.empty).toSeq
          .filter(f => f.isDirectory)
          .map(_.getName).sorted
        subjects.foreach(arr.add)
        respond(ex, 200, arr.toString)

      case ("GET", Seq("subjects", s, "versions")) =>
        val vs = FileSchemaRegistry.versions(root, s)
        if (vs.isEmpty) error(ex, 404, 40401, s"Subject '$s' not found.")
        else {
          val arr = Json.createArrayNode()
          vs.foreach(arr.add)
          respond(ex, 200, arr.toString)
        }

      case ("GET", Seq("subjects", s, "versions", v)) =>
        val reg =
          if (v == "latest") FileSchemaRegistry.latest(root, s)
          else v.toIntOption.flatMap(FileSchemaRegistry.get(root, s, _))
        reg match {
          case Some(r) => respond(ex, 200, versionJson(r))
          case None => error(ex, 404, 40402, s"Version $v not found.")
        }

      case ("GET", Seq("schemas", "ids", id)) =>
        id.toIntOption.flatMap(FileSchemaRegistry.byId(root, _)) match {
          case Some(r) =>
            val n = Json.createObjectNode()
            n.put("schemaType", "JSON"); n.put("schema", r.doc)
            respond(ex, 200, n.toString)
          case None => error(ex, 404, 40403, s"Schema $id not found.")
        }

      case ("POST", Seq("subjects", s, "versions")) =>
        // an unparsable body or a missing/non-text "schema" field is
        // the protocol's 422/42201, not an NPE surfacing as 500
        val doc = schemaField(readBody(ex))
        val parsed = doc.flatMap(d =>
          try Some(JsonSchema.parse(d)) catch { case _: Exception => None })
        if (parsed.isEmpty) error(ex, 422, 42201, "Invalid schema")
        else
          try {
            val r = FileSchemaRegistry.register(root, s, doc.get)
            val n = Json.createObjectNode(); n.put("id", r.id)
            respond(ex, 200, n.toString)
          } catch {
            case e: FileSchemaRegistry.IncompatibleSchemaException =>
              error(ex, 409, 409, e.getMessage)
          }

      case ("POST", Seq("compatibility", "subjects", s, "versions", "latest")) =>
        schemaField(readBody(ex)) match {
          case None => error(ex, 422, 42201, "Invalid schema")
          case Some(doc) =>
            val parsedNew =
              try Some(JsonSchema.parse(doc))
              catch { case _: Exception => None }
            parsedNew match {
              case None => error(ex, 422, 42201, "Invalid schema")
              case Some(pn) =>
                val compatible = FileSchemaRegistry.latest(root, s) match {
                  case None => true
                  case Some(last) => FileSchemaRegistry.backwardViolations(
                    JsonSchema.parse(last.doc), pn).isEmpty
                }
                val n = Json.createObjectNode()
                n.put("is_compatible", compatible)
                respond(ex, 200, n.toString)
            }
        }

      case _ => error(ex, 404, 404, s"$method ${parts.mkString("/")}")
    }
  }

  /** The `"schema"` field of a request body, or None when the body is
    * not JSON or the field is absent/non-text — the protocol's
    * "unparsable document" (422/42201), never a 500. */
  private def schemaField(body: String): Option[String] =
    try {
      val node = Json.readTree(body)
      Option(node).map(_.get("schema")).filter(_ != null)
        .filter(_.isTextual).map(_.asText())
    } catch { case _: Exception => None }
}

/** Minimal registry client over `HttpURLConnection` — the shape every
  * registry-aware serializer has: register/fetch over HTTP, plus the
  * id → schema cache that makes `byId` O(1) after first contact (a
  * consumer resolves each distinct schema id ONCE, not per record). */
final class HttpSchemaRegistryClient(baseUrl: String) {

  import HttpSchemaRegistry.{ContentType, Json}

  private val idCache =
    new java.util.concurrent.ConcurrentHashMap[Int, String]()

  private def call(method: String, path: String,
      body: Option[String]): (Int, String) = {
    val c = new URL(baseUrl + path).openConnection()
      .asInstanceOf[HttpURLConnection]
    c.setRequestMethod(method)
    body.foreach { b =>
      c.setDoOutput(true)
      c.setRequestProperty("Content-Type", ContentType)
      val os = c.getOutputStream
      try os.write(b.getBytes(UTF_8)) finally os.close()
    }
    val status = c.getResponseCode
    val in = if (status >= 400) c.getErrorStream else c.getInputStream
    val buf = new ByteArrayOutputStream()
    if (in != null) {
      val tmp = new Array[Byte](4096)
      var n = in.read(tmp)
      while (n >= 0) { buf.write(tmp, 0, n); n = in.read(tmp) }
      in.close()
    }
    (status, new String(buf.toByteArray, UTF_8))
  }

  private def parsed(method: String, path: String, body: Option[String])
      : com.fasterxml.jackson.databind.JsonNode = {
    val (status, text) = call(method, path, body)
    // an empty or non-JSON error body must not mask the real HTTP
    // status behind a Jackson NPE/parse failure
    val node = try Json.readTree(text) catch { case _: Exception => null }
    if (status >= 400) {
      val code = Option(node).map(_.get("error_code")).filter(_ != null)
        .map(_.asInt()).getOrElse(status)
      val msg = Option(node).map(_.get("message")).filter(_ != null)
        .map(_.asText()).getOrElse(text)
      throw RegistryHttpException(status, code, msg)
    }
    if (node == null)
      throw RegistryHttpException(status, status, s"non-JSON body: $text")
    node
  }

  private def schemaBody(doc: String): String = {
    val n = Json.createObjectNode()
    n.put("schema", doc); n.put("schemaType", "JSON")
    n.toString
  }

  def register(subject: String, doc: String): Int =
    parsed("POST", s"/subjects/$subject/versions", Some(schemaBody(doc)))
      .get("id").asInt()

  def subjects(): Seq[String] = {
    val arr = parsed("GET", "/subjects", None)
    (0 until arr.size()).map(arr.get(_).asText())
  }

  def versions(subject: String): Seq[Int] = {
    val arr = parsed("GET", s"/subjects/$subject/versions", None)
    (0 until arr.size()).map(arr.get(_).asInt())
  }

  def version(subject: String, v: String): (Int, Int, String) = {
    val n = parsed("GET", s"/subjects/$subject/versions/$v", None)
    (n.get("version").asInt(), n.get("id").asInt(), n.get("schema").asText())
  }

  def latest(subject: String): (Int, Int, String) = version(subject, "latest")

  /** id → schema document, cached after first fetch (schema ids are
    * immutable, so the cache can never go stale). */
  def byId(id: Int): String =
    idCache.computeIfAbsent(id, { i =>
      idFetches.incrementAndGet()
      parsed("GET", s"/schemas/ids/$i", None).get("schema").asText()
    })

  def compatible(subject: String, doc: String): Boolean =
    parsed("POST", s"/compatibility/subjects/$subject/versions/latest",
      Some(schemaBody(doc))).get("is_compatible").asBoolean()

  /** HTTP fetches made against `/schemas/ids` — the spec asserts a
    * consumer resolves each distinct id ONCE, not per record. */
  val idFetches = new java.util.concurrent.atomic.AtomicInteger(0)
}
