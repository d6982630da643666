package unifybench

import scala.collection.mutable

/** One generated source record. `sendMs` is its scheduled send time
  * relative to the start of the schedule; `ev` is the event the record
  * carries once parsed and canonicalized, or None for a record the
  * pipeline must drop (malformed JSON, missing or null `order-id`).
  * The program under test only ever sees `topic`, `key` and `value`. */
final case class Rec(sendMs: Long, topic: String, key: String,
    value: String, ev: Option[Ev])

/** A canonical event as the model sees it. */
final case class Ev(orderId: String, ctype: String, micros: Long,
    details: String)

/** Seeded workload generator. The base is the reference producer's
  * default run (`test-consumer-app/main.go:204-315`): complete order
  * lifecycles (created, placed, cancelled, each on its own topic with a
  * canonical `type`), timestamps ≤100 ms apart, publish order
  * shuffled. On top of that base come small marked additions, one per
  * edge case the pipeline must handle: missing events and duplicates
  * as the producer's optional modes make them, late re-arrivals (G7),
  * alias, unknown and missing types, one hot key, and about 1 %
  * malformed records. The shares of the additions (`Edge*`) were
  * chosen so that every case occurs many times in a run; they are not
  * measured from any traffic.
  *
  * Every canonical type of an order always travels on that type's own
  * topic, so the first-wins winner per type is fixed by the order of
  * one partition log and does not depend on how a micro-batch
  * interleaves topics. Duplicates of one type carry identical content.
  * Late re-arrivals are sent `LateMs` after the lifecycle starts,
  * well past the deadline plus a trigger, and never after the end of
  * the schedule. */
object Gen {
  val Topics: Seq[String] = Seq("order-created", "order-placed", "order-cancelled")
  val Types: Seq[String] = Seq("created", "placed", "cancelled")
  val Partitions = 3
  val LateMs = 8500L
  val HotKey = "ord-hot"
  val HotEveryMs = 10000L
  val HotCopies = 60
  /** Shares (%) of the ordinary lifecycles that carry an edge case
    * instead of the base shape: missing events, one duplicated type,
    * alias/unknown/missing types, a late re-arrival. */
  val EdgeMissing = 3
  val EdgeDuplicates = 3
  val EdgeTypes = 3
  val EdgeLate = 3
  private val BaseMicros = 1723823479799000L // 2024-08-16T15:51:19.799Z

  def topicOf(ctype: String): String = Topics(Types.indexOf(ctype))

  /** `lifecycles` ordinary lifecycles started at `ratePerS` over
    * `[0, lifecycles / ratePerS)`, plus the hot key's lifecycles. */
  def generate(seed: Long, lifecycles: Int, ratePerS: Double): Vector[Rec] = {
    val rnd = new scala.util.Random(seed)
    val windowMs = math.max(1L, (lifecycles / ratePerS * 1000).toLong)
    val out = mutable.ArrayBuffer.empty[Rec]
    var bad = 0

    def typeField(ctype: String, edgy: Boolean): String =
      if (!edgy) s""""type":"$ctype","""
      else rnd.nextInt(3) match {
        case 0 => s""""type":"${alias(ctype)}","""
        case 1 => "" // missing: topic fallback
        case _ => """"type":"unknown","""
      }
    def alias(c: String): String = rnd.nextInt(3) match {
      case 0 => ("order-" + c).toUpperCase
      case 1 => c.capitalize
      case _ => s"  $c "
    }
    def event(at: Long, id: String, ctype: String, micros: Long,
        details: String, edgy: Boolean): Rec = {
      val iso = java.time.Instant.ofEpochSecond(
        Math.floorDiv(micros, 1000000L), Math.floorMod(micros, 1000000L) * 1000L).toString
      val v = s"""{"order-id":"$id",${typeField(ctype, edgy)}"timestamp":"$iso","order_details":$details}"""
      Rec(at, topicOf(ctype), id, v, Some(Ev(id, ctype, micros, details)))
    }
    def malformed(at: Long): Rec = {
      bad += 1
      val key = s"bad-$bad"
      val v = rnd.nextInt(3) match {
        case 0 => s"not json $bad"
        case 1 => s"""{"type":"created","timestamp":"2024-08-16T15:51:19Z","order_details":{}}"""
        case _ => s"""{"order-id":null,"type":"placed","timestamp":"2024-08-16T15:51:19Z","order_details":{}}"""
      }
      Rec(at, Topics(rnd.nextInt(3)), key, v, None)
    }
    /** The events of one lifecycle in a shuffled publish order, ≤100 ms
      * apart; `copies(type)` sends that event so many times inside the
      * same gap; `edgy` gives every event an alias, unknown or missing
      * type. */
    def lifecycle(start: Long, id: String, lc: Int, variant: Int,
        types: Seq[String], copies: String => Int = _ => 1,
        edgy: Boolean = false): Unit = {
      var t = start
      rnd.shuffle(types).foreach { c =>
        val i = Types.indexOf(c)
        val micros = BaseMicros + lc * 37000L + variant * 9000000L + i * 1000L
        val details = s"""{"lc":$lc,"v":$variant,"amount":${100 + (lc * 7 + i) % 900},"sku":"S${lc % 97}"}"""
        val r = event(t, id, c, micros, details, edgy)
        val n = copies(c)
        (0 until n).foreach(k => out += r.copy(sendMs = t + k * 90L / n))
        t += rnd.nextInt(101)
      }
    }

    (0 until lifecycles).foreach { lc =>
      val start = (lc * 1000.0 / ratePerS).toLong
      val id = s"ord-$seed-$lc"
      val lateOk = start + LateMs + 400 < windowMs
      val r = rnd.nextInt(100)
      if (r < EdgeMissing) // main.go: missing-created, missing-placed, created-only
        lifecycle(start, id, lc, 0, Seq(Types.tail, Seq("created", "cancelled"), Seq("created"))(rnd.nextInt(3)))
      else if (r < EdgeMissing + EdgeDuplicates) { // main.go: one type sent 2-5 times
        val dup = Types(rnd.nextInt(3))
        val n = 2 + rnd.nextInt(4)
        lifecycle(start, id, lc, 0, Types, c => if (c == dup) n else 1)
      } else if (r < EdgeMissing + EdgeDuplicates + EdgeTypes)
        lifecycle(start, id, lc, 0, Types, edgy = true)
      else if (r < EdgeMissing + EdgeDuplicates + EdgeTypes + EdgeLate && lateOk) {
        // G7: one late event, or a whole late lifecycle
        lifecycle(start, id, lc, 0, Types)
        lifecycle(start + LateMs, id, lc, 1, if (rnd.nextBoolean()) Types else Seq(Types(rnd.nextInt(3))))
      } else lifecycle(start, id, lc, 0, Types)
    }
    // the hot key: a storm of identical copies, re-opened every
    // HotEveryMs with new details
    var h = 0
    while (h * HotEveryMs + 500 + 400 < windowMs || h == 0) {
      lifecycle(h * HotEveryMs + 500, HotKey, 1000000 + h, 0, Types, _ => HotCopies)
      h += 1
    }
    // ~1 % malformed records, interleaved at random send times
    val nBad = math.max(1, out.size / 99)
    (0 until nBad).foreach(_ => out += malformed((rnd.nextDouble() * windowMs).toLong))
    out.zipWithIndex.sortBy { case (rec, i) => (rec.sendMs, i) }.map(_._1).toVector
  }
}
