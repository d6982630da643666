package graft.sources

import java.nio.file.{Files, StandardOpenOption}

import org.scalatest.funsuite.AnyFunSuite

/** The offset index behind [[FileTopicsMicroBatchStream]]: incremental
  * `latestOffset` scans must agree with a full recount, positioned
  * reads with the plain line slice, and a restarted or shrunk log must
  * be re-read from its bytes, never from a stale position. Pure file
  * I/O — no Spark session. */
class FileTopicsIndexSpec extends AnyFunSuite {
  private val Topic = "t"
  private val Tp = (Topic, 0)

  private def tmp(): String =
    graft.TestSpark.tempDir("ftopics-index")

  private def raw(root: String, s: String): Unit = {
    val f = FileTopics.logFile(root, Topic, 0).toPath
    Files.createDirectories(f.getParent)
    Files.write(f, s.getBytes("UTF-8"), StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  private def put(root: String, recs: Seq[(String, String)]): Unit =
    FileTopics.append(root, Topic, 1, recs)

  private def offset(n: Long): FileTopicsOffset = FileTopicsOffset(Map(Tp -> n))

  /** Every record a stream reads for `[from, until)`, through its own
    * planned partitions and reader. */
  private def read(s: FileTopicsMicroBatchStream, from: Long,
      until: Long): Vector[(String, String, Long)] =
    s.planInputPartitions(offset(from), offset(until)).toVector.flatMap { ip =>
      val r = s.createReaderFactory().createReader(ip)
      try Iterator.continually(r.next()).takeWhile(identity).map { _ =>
        val row = r.get()
        (row.getUTF8String(0).toString, row.getUTF8String(1).toString, row.getLong(4))
      }.toVector
      finally r.close()
    }

  private def latest(s: FileTopicsMicroBatchStream): Long =
    s.latestOffset().asInstanceOf[FileTopicsOffset].counts(Tp)

  test("incremental offsets equal a full recount across random appends, torn tail included") {
    val rnd = new scala.util.Random(11)
    val root = tmp()
    raw(root, "")
    val stream = new FileTopicsMicroBatchStream(root, Seq(Topic))
    var complete = 0L
    var torn = false
    (1 to 300).foreach { step =>
      rnd.nextInt(4) match {
        case 0 if !torn =>
          raw(root, s"k$step\tv%20$step") // a line still being written
          torn = true
        case 1 if torn =>
          raw(root, "-tail\n")
          torn = false
          complete += 1
        case _ if !torn =>
          val n = rnd.nextInt(5)
          put(root, (0 until n).map(i => (s"k$step-$i", s"v $step é\t$i")))
          complete += n
        case _ =>
      }
      val got = latest(stream)
      assert(got == complete, s"step $step")
      assert(FileTopics.latestOffsets(root, Seq(Topic)) == Map(Tp -> complete))
    }
    // the torn line's bytes were scanned once; completing it counts it
    if (torn) { raw(root, "\n"); complete += 1 }
    assert(latest(stream) == complete)
    assert(read(stream, 0L, complete).map(_._3) == (0L until complete).toVector)
  }

  test("positioned reads equal the line slice for random [from, until)") {
    val rnd = new scala.util.Random(12)
    val root = tmp()
    val recs = (0 until 400).map(i => (s"key-$i", s"value é $i" * (1 + i % 7)))
    recs.grouped(37).foreach(put(root, _))
    val stream = new FileTopicsMicroBatchStream(root, Seq(Topic))
    assert(latest(stream) == 400L)
    val lines = recs.zipWithIndex.map { case ((k, v), i) => (k, v, i.toLong) }.toVector
    (1 to 60).foreach { _ =>
      val a = rnd.nextInt(401)
      val b = rnd.nextInt(401)
      val (from, until) = (math.min(a, b).toLong, math.max(a, b).toLong)
      val want = lines.slice(from.toInt, until.toInt)
      assert(read(stream, from, until) == want, s"[$from, $until)")
      assert(FileTopics.readRange(root, Topic, 0, from, until).toVector == want)
    }
  }

  test("a fresh stream resuming from a checkpointed offset reads exactly the rest") {
    val root = tmp()
    put(root, (0 until 50).map(i => (s"a$i", s"first $i")))
    val first = new FileTopicsMicroBatchStream(root, Seq(Topic))
    val checkpointed = first.latestOffset().json()
    assert(read(first, 0L, 50L).size == 50)
    first.commit(first.deserializeOffset(checkpointed))

    put(root, (0 until 30).map(i => (s"b$i", s"second $i")))
    val resumed = new FileTopicsMicroBatchStream(root, Seq(Topic))
    val end = resumed.latestOffset()
    val got = resumed.planInputPartitions(resumed.deserializeOffset(checkpointed), end)
    assert(got.length == 1)
    assert(read(resumed, 50L, 80L) ==
      (0 until 30).map(i => (s"b$i", s"second $i", 50L + i)).toVector)
  }

  test("a log that shrank is rescanned, never misread") {
    val root = tmp()
    put(root, (0 until 20).map(i => (s"old$i", s"old value $i")))
    val stream = new FileTopicsMicroBatchStream(root, Seq(Topic))
    assert(latest(stream) == 20L)
    Files.delete(FileTopics.logFile(root, Topic, 0).toPath)
    put(root, (0 until 5).map(i => (s"new$i", s"v$i")))
    assert(latest(stream) == 5L)
    assert(read(stream, 0L, 5L) == (0 until 5).map(i => (s"new$i", s"v$i", i.toLong)).toVector)
    assert(read(stream, 20L, 5L).isEmpty)
    put(root, (5 until 8).map(i => (s"new$i", s"v$i")))
    assert(latest(stream) == 8L)
    assert(read(stream, 5L, 8L) == (5 until 8).map(i => (s"new$i", s"v$i", i.toLong)).toVector)
  }

  test("commit drops positions, and a dropped one is found again by a scan") {
    val root = tmp()
    put(root, (0 until 10).map(i => (s"k$i", s"v$i")))
    val stream = new FileTopicsMicroBatchStream(root, Seq(Topic))
    assert(latest(stream) == 10L)
    put(root, (10 until 15).map(i => (s"k$i", s"v$i")))
    assert(latest(stream) == 15L)
    stream.commit(offset(15L))
    assert(read(stream, 3L, 12L) == (3 until 12).map(i => (s"k$i", s"v$i", i.toLong)).toVector)
  }
}
