package graft.sources

import org.scalatest.funsuite.AnyFunSuite

/** The registry's HTTP WIRE PROTOCOL, executed over real localhost
  * round-trips: the Confluent-style REST surface (register / versions
  * / latest / byId / compatibility, with the protocol's error codes)
  * and the serde framing (magic 0x00 + int32 schema id + payload),
  * including the full produce → framed topic → distributed decode →
  * resolve-by-id → validate path. The HTTP layer adapts
  * [[FileSchemaRegistry]], so this spec pins the WIRE, and
  * `FileSchemaRegistrySpec` pins the semantics of the same store. */
class HttpSchemaRegistrySpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  private val v1 = """{
    "type": "object",
    "properties": {
      "email": {"type": "string", "pattern": "^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+$"},
      "index": {"type": "integer"}
    },
    "required": ["email", "index"],
    "additionalProperties": false
  }"""

  private val v2 = """{
    "type": "object",
    "properties": {
      "email": {"type": "string", "pattern": "^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+$"},
      "index": {"type": "integer"},
      "note": {"type": "string"}
    },
    "required": ["email", "index"],
    "additionalProperties": false
  }"""

  /** Incompatible: adds a REQUIRED field old records lack. */
  private val bad = """{
    "type": "object",
    "properties": {
      "email": {"type": "string"},
      "index": {"type": "integer"},
      "region": {"type": "string"}
    },
    "required": ["email", "index", "region"],
    "additionalProperties": false
  }"""

  private def tmp(prefix: String): String =
    graft.TestSpark.tempDir(prefix)

  private def withServer[A](f: (HttpSchemaRegistryClient, String) => A): A = {
    val root = tmp("httpreg")
    val server = new HttpSchemaRegistryServer(root)
    val port = server.start()
    try f(new HttpSchemaRegistryClient(s"http://127.0.0.1:$port"), root)
    finally server.stop()
  }

  test("wire format round-trips and rejects unframed bytes") {
    val frame = SchemaRegistryWire.encode(0x01020304, """{"a":1}""")
    assert(frame(0) == 0x00.toByte)
    assert(frame.slice(1, 5).toSeq == Seq[Byte](1, 2, 3, 4))
    assert(SchemaRegistryWire.decode(frame) == (0x01020304, """{"a":1}"""))
    // empty payload, id 0, max id
    assert(SchemaRegistryWire.decode(SchemaRegistryWire.encode(0, "")) == (0, ""))
    assert(SchemaRegistryWire.decode(
      SchemaRegistryWire.encode(Int.MaxValue, "x")) == (Int.MaxValue, "x"))
    intercept[IllegalArgumentException] {
      SchemaRegistryWire.decode("{\"a\":1}".getBytes("UTF-8"))
    }
    intercept[IllegalArgumentException] {
      SchemaRegistryWire.decode(Array[Byte](0, 0, 0))
    }
  }

  test("REST contract: register, idempotency, versions, latest, byId, errors") {
    withServer { (client, root) =>
      assert(client.subjects() == Seq.empty)
      val id1 = client.register("transactions", v1)
      assert(id1 == 1)
      // idempotent: same schema (different whitespace) returns same id
      assert(client.register("transactions", v1.replace("\n", "\n ")) == id1)
      val id2 = client.register("transactions", v2)
      assert(id2 == 2)
      assert(client.subjects() == Seq("transactions"))
      assert(client.versions("transactions") == Seq(1, 2))
      val (vLatest, idLatest, docLatest) = client.latest("transactions")
      assert((vLatest, idLatest) == (2, 2))
      assert(graft.operators.JsonSchema.parse(docLatest) ==
        graft.operators.JsonSchema.parse(v2))
      assert(graft.operators.JsonSchema.parse(client.byId(1)) ==
        graft.operators.JsonSchema.parse(v1))
      // the HTTP store IS the file store
      assert(FileSchemaRegistry.latest(root, "transactions").get.id == 2)

      // protocol error codes
      val e1 = intercept[RegistryHttpException](client.versions("nope"))
      assert((e1.status, e1.errorCode) == (404, 40401))
      val e2 = intercept[RegistryHttpException](
        client.version("transactions", "9"))
      assert((e2.status, e2.errorCode) == (404, 40402))
      val e3 = intercept[RegistryHttpException](client.byId(99))
      assert((e3.status, e3.errorCode) == (404, 40403))
      val e4 = intercept[RegistryHttpException](
        client.register("transactions", bad))
      assert((e4.status, e4.errorCode) == (409, 409))
      val e5 = intercept[RegistryHttpException](
        client.register("transactions", """{"type": "array"}"""))
      assert((e5.status, e5.errorCode) == (422, 42201))
      // the failed registrations wrote nothing
      assert(client.versions("transactions") == Seq(1, 2))
    }
  }

  test("malformed request bodies surface as protocol 422/42201, never 500") {
    def rawPost(port: Int, path: String, body: String): (Int, String) = {
      val c = new java.net.URL(s"http://127.0.0.1:$port$path")
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      c.setRequestMethod("POST"); c.setDoOutput(true)
      val os = c.getOutputStream
      try os.write(body.getBytes("UTF-8")) finally os.close()
      val status = c.getResponseCode
      val in = if (status >= 400) c.getErrorStream else c.getInputStream
      val text = if (in == null) "" else {
        val b = new java.io.ByteArrayOutputStream()
        val tmp = new Array[Byte](4096)
        var n = in.read(tmp)
        while (n >= 0) { b.write(tmp, 0, n); n = in.read(tmp) }
        in.close(); new String(b.toByteArray, "UTF-8")
      }
      (status, text)
    }
    val root = tmp("httpreg_bad")
    val server = new HttpSchemaRegistryServer(root)
    val port = server.start()
    try {
      for (path <- Seq("/subjects/t/versions",
          "/compatibility/subjects/t/versions/latest");
          body <- Seq("not json at all", "{}", """{"schema": 42}""",
            """{"other": "field"}""")) {
        val (status, text) = rawPost(port, path, body)
        assert(status == 422, s"$path body=$body -> $status ($text)")
        assert(text.contains("42201"), s"$path body=$body -> $text")
      }
      // and nothing got registered by any of those
      val client = new HttpSchemaRegistryClient(s"http://127.0.0.1:$port")
      assert(client.subjects() == Seq.empty)
    } finally server.stop()
  }

  test("compatibility endpoint agrees with the register gate") {
    withServer { (client, _) =>
      // empty subject: anything is compatible
      assert(client.compatible("transactions", v1))
      client.register("transactions", v1)
      assert(client.compatible("transactions", v2))
      assert(!client.compatible("transactions", bad))
    }
  }

  test("produce framed over HTTP; distributed consumer decodes + validates; id resolved once") {
    withServer { (client, _) =>
      val topics = tmp("httptopics")
      client.register("transactions", v1)
      val records = Seq(
        "k1" -> """{"email": "a@b.com", "index": 1}""",
        "k2" -> """{"email": "not-an-email", "index": 2}""", // pattern fails
        "k3" -> """{"email": "c@d.org", "index": 3}""",
        "k4" -> """{"index": 4}""") // missing required email
      val (schemaId, valid, rejected) = HttpSchemaRegistry.validatedProduce(
        spark, client, topics, "transactions", 3, "transactions", records)
      assert((schemaId, valid, rejected) == (1, 2, 2))

      // evolve, produce one more under v2 — the topic now carries two ids
      client.register("transactions", v2)
      val (id2, v2valid, _) = HttpSchemaRegistry.validatedProduce(
        spark, client, topics, "transactions", 3, "transactions",
        Seq("k5" -> """{"email": "e@f.net", "index": 5, "note": "hi"}"""))
      assert((id2, v2valid) == (2, 1))

      val consumed = HttpSchemaRegistry.framedTopic(spark, topics, "transactions")
      val rows = consumed.collect().map(r =>
        (r.getString(0), r.getBoolean(1), r.getInt(2), r.getString(3))).sortBy(_._1)
      assert(rows.map(_._1).toSeq == Seq("k1", "k3", "k5"))
      assert(rows.forall(_._2), "magic byte present on every frame")
      assert(rows.map(_._3).toSeq == Seq(1, 1, 2))
      assert(rows.map(_._4).toSeq == Seq(
        """{"email": "a@b.com", "index": 1}""",
        """{"email": "c@d.org", "index": 3}""",
        """{"email": "e@f.net", "index": 5, "note": "hi"}"""))

      // consumer-side validation: resolve each DISTINCT id once, then
      // validate payloads under their own writer schema (codegen'd)
      import org.apache.spark.sql.functions.col
      client.idFetches.set(0)
      val ids = consumed.select("schema_id").distinct().collect()
        .map(_.getInt(0)).sorted
      val perId = ids.map { id =>
        val doc = client.byId(id)
        consumed.filter(col("schema_id") === id)
          .select(graft.operators.JsonSchema.isValid(col("payload"), doc)
            .as("ok")).collect().map(_.getBoolean(0))
      }
      assert(perId.flatten.forall(identity),
        "every framed payload validates under its writer schema")
      ids.foreach(client.byId) // second pass: cache hit, no HTTP
      assert(client.idFetches.get() == ids.length,
        "each distinct schema id fetched exactly once over HTTP")
    }
  }
}
