package graft.sources

import graft.operators.JsonSchema
import graft.operators.JsonSchema.ObjectSchema

/** A file-backed SCHEMA REGISTRY exposing the registry contract the
  * reference deploys against its transactions topic
  * (`docker-compose/docker-compose.yml:294-313` registers
  * `transactions-schema.json` with Redpanda's registry; the broker
  * then enforces it on produce): named SUBJECTS, monotone 1-based
  * VERSIONS, global schema ids, IDEMPOTENT re-registration, and a
  * BACKWARD-compatibility gate on evolution — so the
  * schema-registry integration path can be executed and specced in an
  * environment with no registry service (the same in-sandbox
  * verification move as [[FileTopics]] for the broker).
  *
  * Compatibility is checked over the draft-07 subset
  * [[graft.operators.JsonSchema]] compiles (typed properties,
  * patterns, required, closed objects). BACKWARD means: every record
  * accepted under the PREVIOUS version must be accepted under the new
  * one — the registry-default mode, and the one that makes rolling
  * consumer upgrades safe. Concretely:
  *
  *  - the new schema may not ADD required fields (old data may lack
  *    them),
  *  - a shared property's `type` may not change,
  *  - a shared property's `pattern` may not appear or change (either
  *    tightens; REMOVING a pattern loosens and is fine),
  *  - a CLOSED new schema must declare every property the old schema
  *    declared, and may not close a previously OPEN schema.
  *
  * Layout: `<root>/<subject>/v<k>.json`, plus `<root>/_next_id` for
  * the global id counter. Everything is driver-side file IO — the
  * registry is control-plane metadata (a handful of documents), never
  * data-plane; the enforcement path ([[validatedAppend]]) compiles the
  * latest schema into the codegen'd [[JsonSchema.isValid]] predicate
  * and routes records through [[FileTopics]].
  * FileSchemaRegistrySpec pins the whole contract. */
object FileSchemaRegistry {

  final case class Registered(subject: String, version: Int, id: Int,
      doc: String)

  final class IncompatibleSchemaException(val violations: Seq[String])
    extends IllegalArgumentException(
      s"backward-incompatible schema: ${violations.mkString("; ")}")

  private def subjectDir(root: String, subject: String) =
    new java.io.File(root, subject)

  /** Registered versions of a subject, ascending. */
  def versions(root: String, subject: String): Seq[Int] =
    Option(subjectDir(root, subject).listFiles()).getOrElse(Array.empty)
      .toSeq.map(_.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".json"))
      .map(_.stripPrefix("v").stripSuffix(".json").toInt)
      .sorted

  def get(root: String, subject: String, version: Int): Option[Registered] = {
    val f = new java.io.File(subjectDir(root, subject), s"v$version.json")
    if (!f.exists()) None
    else {
      val body = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      // first line: "id"; rest: the document
      val nl = body.indexOf('\n')
      Some(Registered(subject, version, body.substring(0, nl).trim.toInt,
        body.substring(nl + 1)))
    }
  }

  def latest(root: String, subject: String): Option[Registered] =
    versions(root, subject).lastOption.flatMap(get(root, subject, _))

  /** Global-id lookup across all subjects (the `GET /schemas/ids/{id}`
    * backing). Linear over the registry's few documents — control
    * plane, never data plane. */
  def byId(root: String, id: Int): Option[Registered] =
    Option(new java.io.File(root).listFiles()).getOrElse(Array.empty).toSeq
      .filter(_.isDirectory).map(_.getName).sorted
      .flatMap(s => versions(root, s).flatMap(v => get(root, s, v)))
      .find(_.id == id)

  /** BACKWARD-compatibility violations of `next` against `prev`
    * (empty = compatible). */
  def backwardViolations(prev: ObjectSchema, next: ObjectSchema): Seq[String] = {
    val out = Seq.newBuilder[String]
    val prevProps = prev.properties.map(p => p.name -> p).toMap
    next.required.filterNot(prev.required.contains).foreach { r =>
      out += s"new required field '$r' is not guaranteed by the previous version"
    }
    next.properties.foreach { np =>
      prevProps.get(np.name).foreach { pp =>
        // dropping a type constraint (Some -> None) only LOOSENS the
        // schema — every previously-valid document still validates —
        // so it is BACKWARD compatible; flag only a changed type or a
        // newly-added constraint (None -> Some, a tightening)
        (pp.typ, np.typ) match {
          case (Some(pt), Some(nt)) if pt != nt =>
            out += s"property '${np.name}' changed type $pt -> $nt"
          case (None, Some(nt)) =>
            out += s"property '${np.name}' added type constraint $nt (tightening)"
          case _ => ()
        }
        if (np.pattern.nonEmpty && np.pattern != pp.pattern)
          out += s"property '${np.name}' tightened its pattern"
      }
    }
    if (!next.additionalProperties) {
      if (prev.additionalProperties)
        out += "new version closes a previously open schema"
      val nextNames = next.properties.map(_.name).toSet
      prev.properties.map(_.name).filterNot(nextNames).foreach { n =>
        out += s"closed new version drops previously declared property '$n'"
      }
    }
    out.result()
  }

  /** Register a schema document under a subject. Idempotent: a
    * document parsing to a schema identical to an existing version
    * returns that version. Otherwise the new version must be BACKWARD
    * compatible with the latest, or [[IncompatibleSchemaException]]
    * is thrown (nothing is written). */
  def register(root: String, subject: String, doc: String): Registered =
    synchronized {
      val parsed = JsonSchema.parse(doc)
      val existing = versions(root, subject)
        .flatMap(get(root, subject, _))
        .find(r => JsonSchema.parse(r.doc) == parsed)
      existing.getOrElse {
        latest(root, subject).foreach { last =>
          val viol = backwardViolations(JsonSchema.parse(last.doc), parsed)
          if (viol.nonEmpty) throw new IncompatibleSchemaException(viol)
        }
        val version = versions(root, subject).lastOption.getOrElse(0) + 1
        val idFile = new java.io.File(root, "_next_id")
        val id =
          if (idFile.exists())
            new String(java.nio.file.Files.readAllBytes(idFile.toPath),
              "UTF-8").trim.toInt
          else 1
        idFile.getParentFile.mkdirs()
        java.nio.file.Files.write(idFile.toPath,
          String.valueOf(id + 1).getBytes("UTF-8"))
        val f = new java.io.File(subjectDir(root, subject), s"v$version.json")
        f.getParentFile.mkdirs()
        java.nio.file.Files.write(f.toPath, s"$id\n$doc".getBytes("UTF-8"))
        Registered(subject, version, id, doc)
      }
    }

  /** Producer-side enforcement (what the reference's broker does with
    * the registered schema): validate each record VALUE against the
    * subject's LATEST schema via the compiled codegen'd predicate,
    * append only the valid ones to the topic, and return
    * (validCount, rejectedCount). */
  def validatedAppend(spark: org.apache.spark.sql.SparkSession,
      topicsRoot: String, topic: String, numPartitions: Int,
      registryRoot: String, subject: String,
      records: Seq[(String, String)]): (Int, Int) = {
    val schema = latest(registryRoot, subject).getOrElse(
      throw new IllegalStateException(s"no schema registered for $subject"))
    val (good, rejected) = splitValid(spark, records, schema.doc)
    FileTopics.append(topicsRoot, topic, numPartitions, good)
    (good.length, rejected)
  }

  /** The producer-side validity split shared by both registry
    * producers: `records` whose value `doc` accepts, in input order,
    * and the count of rejected ones. The records Seq is DRIVER-LOCAL
    * by construction (the producer seam — the data starts here,
    * exactly like a Kafka producer's send buffer); the collect
    * round-trips the bounded batch through the codegen'd validity
    * predicate, it does not pull distributed data to the driver. */
  private[sources] def splitValid(spark: org.apache.spark.sql.SparkSession,
      records: Seq[(String, String)], doc: String): (Seq[(String, String)], Int) = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val flags = records.toDF("key", "value")
      .select(col("key"), col("value"),
        JsonSchema.isValid(col("value"), doc).as("ok"))
      .collect()
    val (good, bad) = flags.partition(_.getBoolean(2))
    (good.toSeq.map(r => (r.getString(0), r.getString(1))), bad.length)
  }
}
