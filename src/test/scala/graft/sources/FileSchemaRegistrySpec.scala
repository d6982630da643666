package graft.sources

import org.scalatest.funsuite.AnyFunSuite

/** The schema-registry contract, verified in-sandbox: subjects with
  * monotone versions and global ids, idempotent re-registration,
  * BACKWARD-compatibility gating on evolution, and producer-side
  * enforcement of the latest schema (the role
  * `docker-compose/docker-compose.yml:294-313` delegates to the
  * Redpanda registry for `transactions-schema.json`). */
class FileSchemaRegistrySpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  /** The reference's transactions schema shape (same subset:
    * required + typed properties + pattern + closed object). */
  private val v1 = """{
    "type": "object",
    "properties": {
      "email": {"type": "string", "pattern": "^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+$"},
      "index": {"type": "integer"},
      "price": {"type": "string", "pattern": "^XXX \\d+\\.\\d{6}$"}
    },
    "required": ["email", "index", "price"],
    "additionalProperties": false
  }"""

  /** Compatible evolution: one new OPTIONAL property, declared so the
    * closed object still admits old records. */
  private val v2 = """{
    "type": "object",
    "properties": {
      "email": {"type": "string", "pattern": "^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+$"},
      "index": {"type": "integer"},
      "price": {"type": "string", "pattern": "^XXX \\d+\\.\\d{6}$"},
      "note": {"type": "string"}
    },
    "required": ["email", "index", "price"],
    "additionalProperties": false
  }"""

  private def tmp(): String =
    graft.TestSpark.tempDir("schemareg")

  test("register/evolve: monotone versions, global ids, idempotent re-register") {
    val root = tmp()
    val r1 = FileSchemaRegistry.register(root, "transactions", v1)
    assert((r1.version, r1.id) == (1, 1))
    // same schema, different whitespace: same version, nothing new
    val again = FileSchemaRegistry.register(root, "transactions",
      v1.replace("\n", "\n "))
    assert((again.version, again.id) == (1, 1))
    val r2 = FileSchemaRegistry.register(root, "transactions", v2)
    assert((r2.version, r2.id) == (2, 2))
    assert(FileSchemaRegistry.versions(root, "transactions") == Seq(1, 2))
    assert(FileSchemaRegistry.latest(root, "transactions").get.version == 2)
    // a second subject gets its own version line but shares the id pool
    val other = FileSchemaRegistry.register(root, "orders",
      """{"type":"object","properties":{"id":{"type":"integer"}},"required":["id"]}""")
    assert((other.version, other.id) == (1, 3))
  }

  test("BACKWARD gate: required-add, type-change, property-drop, pattern-tighten all rejected") {
    val root = tmp()
    FileSchemaRegistry.register(root, "t", v1)
    def rejected(doc: String, needle: String): Unit = {
      val e = intercept[FileSchemaRegistry.IncompatibleSchemaException] {
        FileSchemaRegistry.register(root, "t", doc)
      }
      assert(e.violations.exists(_.contains(needle)),
        s"expected '$needle' in ${e.violations}")
      assert(FileSchemaRegistry.versions(root, "t") == Seq(1),
        "a rejected schema must not be written")
    }
    rejected(v2.replace("\"required\": [\"email\", \"index\", \"price\"]",
      "\"required\": [\"email\", \"index\", \"price\", \"note\"]"),
      "new required field 'note'")
    rejected(v1.replace("\"index\": {\"type\": \"integer\"}",
      "\"index\": {\"type\": \"string\"}"),
      "changed type")
    // closed schema dropping a declared property
    rejected(v1.replace(
      "\"index\": {\"type\": \"integer\"},\n      ", ""),
      "drops previously declared property 'index'")
    // tightening: adding a pattern where none existed
    rejected(v1.replace("\"index\": {\"type\": \"integer\"}",
      "\"index\": {\"type\": \"integer\", \"pattern\": \"^1\"}"),
      "tightened its pattern")
    // loosening is allowed: REMOVE the price pattern
    val loosened = v1.replace(
      "\"price\": {\"type\": \"string\", \"pattern\": \"^XXX \\\\d+\\\\.\\\\d{6}$\"}",
      "\"price\": {\"type\": \"string\"}")
    assert(FileSchemaRegistry.register(root, "t", loosened).version == 2)
  }

  test("BACKWARD gate: dropping a type constraint (loosening) is compatible; adding one (tightening) is not") {
    val root = tmp()
    FileSchemaRegistry.register(root, "loosen", v1)
    // v2 drops `index`'s type constraint entirely — every document
    // valid under v1 is still valid, so this must REGISTER
    val dropped = """{
      "type": "object",
      "properties": {
        "email": {"type": "string", "pattern": "^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+$"},
        "index": {},
        "price": {"type": "string", "pattern": "^XXX \\d+\\.\\d{6}$"}
      },
      "required": ["email", "index", "price"],
      "additionalProperties": false
    }"""
    val r = FileSchemaRegistry.register(root, "loosen", dropped)
    assert(r.version == 2, "Some -> None type drop is a legal BACKWARD evolution")
    // and the reverse direction — adding a type where the latest has
    // none — is a TIGHTENING and must be rejected (a distinct schema,
    // not v1, so the idempotency path cannot swallow it)
    val ex = intercept[FileSchemaRegistry.IncompatibleSchemaException] {
      FileSchemaRegistry.register(root, "loosen",
        dropped.replace("\"index\": {}", "\"index\": {\"type\": \"number\"}"))
    }
    assert(ex.violations.exists(_.contains("added type constraint")))
  }

  test("producer-side enforcement: only schema-valid records reach the topic; evolution widens") {
    val reg = tmp(); val topics = tmp()
    FileSchemaRegistry.register(reg, "transactions", v1)
    def rec(i: Int, body: String) = (s"k$i", body)
    val batch = Seq(
      rec(1, """{"email":"a@x.com","index":1,"price":"XXX 12.500000"}"""),
      rec(2, """{"email":"b@x.com","index":"2","price":"XXX 12.500000"}"""), // typed wrong
      rec(3, """{"email":"c@x.com","index":3,"price":"XXX 12.5"}"""),        // pattern
      rec(4, """{"email":"d@x.com","index":4,"price":"XXX 12.500000","note":"hi"}""")) // extra prop under v1
    val (ok1, bad1) = FileSchemaRegistry.validatedAppend(
      spark, topics, "transactions", 2, reg, "transactions", batch)
    // v1 is closed: only record 1 is valid (2: wrong type, 3: pattern,
    // 4: undeclared property)
    assert((ok1, bad1) == (1, 3))
    // evolve to v2 (note declared): record 4 now passes
    FileSchemaRegistry.register(reg, "transactions", v2)
    val (ok2, bad2) = FileSchemaRegistry.validatedAppend(
      spark, topics, "transactions", 2, reg, "transactions", Seq(batch(3)))
    assert((ok2, bad2) == (1, 0))
    val sunk = (0 until 2).flatMap(p => FileTopics
      .readRange(topics, "transactions", p, 0L, Long.MaxValue).map(_._1))
    assert(sunk.toSet == Set("k1", "k4"))
  }
}
