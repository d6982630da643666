package graft.sources

import java.util.{Map => JMap}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** A file-backed streaming source exposing KAFKA'S CONTRACT — named
  * topics, numbered partitions, per-partition monotone offsets,
  * key-hash partition routing, and checkpointed offset-exact resume —
  * so the S5/X4 pipeline paths (`kafkaSource`/`kafkaSink`,
  * `OrderProjectionTopology.java:57-64`) can be executed end to end in
  * an environment with no broker and no connector jar. This is a real
  * DataSource V2 `MicroBatchStream`: Spark checkpoints THIS source's
  * offsets through the same offset-log machinery a Kafka query uses,
  * so a kill-and-restart replays from the last committed offsets
  * exactly (FileTopicsE2ESpec pins no-loss/no-dup resume).
  *
  * Layout: `<root>/<topic>/p<k>.log`, one append-only log per
  * (topic, partition); offset = line number. Each line is
  * URL-encoded `key TAB value` (no JSON parsing on the hot path, no
  * escaping ambiguity). The producer routes key → partition with
  * [[FileTopics.partitionFor]] — Kafka's invariant (same key ⇒ same
  * partition ⇒ per-key total order) with a documented stable hash.
  *
  * Offsets are indexed: each stream keeps a [[LogIndex]] per log, so a
  * trigger's `latestOffset` scans only the bytes appended since the
  * last one, and each input partition carries its byte range, so a
  * reader seeks straight to its first line.
  *
  * Scale honesty: this source exists to VERIFY the contract in-sandbox
  * — the index lives in the streaming query's memory and is rebuilt
  * by one full scan per log after a restart, and the sink helper
  * collects each batch to the driver and appends it through the
  * producer's own write routine. The production path stays the Kafka
  * connector (`OrderUnifyPipeline.kafkaSource`, and `kafkaSink`'s
  * producer writing from the executors); the pipeline code between
  * source and sink is identical for both. */
object FileTopics {

  val Schema: StructType = new StructType()
    .add("key", StringType).add("value", StringType)
    .add("topic", StringType).add("partition", IntegerType)
    .add("offset", LongType)

  /** Kafka's routing invariant: same key ⇒ same partition. Stable
    * FNV-1a over the key's UTF-8 bytes, `floorMod` the partition count
    * (documented, engine-neutral — NOT Kafka's murmur2; the contract is
    * the invariant, not the specific hash). The producer and the sink
    * both route through it. A null key (permitted by Kafka's record
    * contract) hashes like the empty key — deterministically, never an
    * NPE. */
  def partitionFor(key: String, numPartitions: Int): Int = {
    var h = 0x811c9dc5
    if (key != null) {
      val bytes = key.getBytes("UTF-8")
      var i = 0
      while (i < bytes.length) {
        h = (h ^ (bytes(i) & 0xff)) * 0x01000193
        i += 1
      }
    }
    java.lang.Math.floorMod(h, numPartitions)
  }

  // null keys encode as the empty string (the log format has no null
  // marker; a null-keyed record degrades to empty-keyed, same routing)
  private def enc(s: String): String =
    java.net.URLEncoder.encode(if (s == null) "" else s, "UTF-8")
  private def dec(s: String): String =
    java.net.URLDecoder.decode(s, "UTF-8")

  private[sources] def logFile(root: String, topic: String, p: Int): java.io.File =
    new java.io.File(s"$root/$topic", s"p$p.log")

  /** The partition logs of `topics` under `root`, by (topic, partition). */
  private[sources] def logs(root: String,
      topics: Seq[String]): Seq[((String, Int), java.io.File)] =
    topics.flatMap { t =>
      Option(new java.io.File(root, t).listFiles()).getOrElse(Array.empty).toSeq
        .filter(f => f.getName.startsWith("p") && f.getName.endsWith(".log"))
        .map(f => (t, f.getName.stripPrefix("p").stripSuffix(".log").toInt) -> f)
    }

  /** Bytes per read of the newline scan and the line reader. */
  private val BlockBytes = 1 << 16

  /** Producer: append `(key, value)` records to `topic`, key-routed
    * across `numPartitions` logs. Appends are line-atomic per call. */
  def append(root: String, topic: String, numPartitions: Int,
      records: Seq[(String, String)]): Unit = synchronized {
    records.groupBy { case (k, _) => partitionFor(k, numPartitions) }
      .foreach { case (p, recs) => appendLines(root, topic, p, recs) }
  }

  /** The one log writer: appends `records` to log `p` of `topic` as
    * URL-encoded `key TAB value` lines, in one write. */
  private def appendLines(root: String, topic: String, p: Int,
      records: Iterable[(String, String)]): Unit = synchronized {
    val f = logFile(root, topic, p)
    f.getParentFile.mkdirs()
    val out = new java.io.FileOutputStream(f, true)
    try {
      val sb = new StringBuilder
      records.foreach { case (k, v) =>
        sb.append(enc(k)).append('\t').append(enc(v)).append('\n')
      }
      out.write(sb.toString.getBytes("UTF-8"))
    } finally out.close()
  }

  /** Current (topic, partition) → record-count map — the "latest
    * offsets" a consumer group would see. Counts complete lines only:
    * a trailing line still being written is not a record yet. */
  def latestOffsets(root: String, topics: Seq[String]): Map[(String, Int), Long] =
    logs(root, topics).map { case (tp, f) => tp -> scanLines(f, 0L).lines }.toMap

  /** Counts the newlines of `f` from byte `from` to its end, in
    * [[BlockBytes]] reads, stopping after the `limit`-th. */
  private[sources] def scanLines(f: java.io.File, from: Long,
      limit: Long = Long.MaxValue): Scanned = {
    val raf = new java.io.RandomAccessFile(f, "r")
    try {
      raf.seek(from)
      val buf = new Array[Byte](BlockBytes)
      var pos = from
      var lines = 0L
      var lineEnd = from
      var n = 0
      while (lines < limit && { n = raf.read(buf); n > 0 }) {
        var i = 0
        while (i < n && lines < limit) {
          if (buf(i) == '\n') { lines += 1; lineEnd = pos + i + 1 }
          i += 1
        }
        pos += i
      }
      Scanned(lines, lineEnd, pos)
    } finally raf.close()
  }

  private[sources] def decode(line: String): (String, String) = {
    val tab = line.indexOf('\t')
    (dec(line.substring(0, tab)), dec(line.substring(tab + 1)))
  }

  /** Records `[from, until)` of one log, complete lines only. */
  private[sources] def readRange(root: String, topic: String, p: Int,
      from: Long, until: Long): Iterator[(String, String, Long)] = {
    val f = logFile(root, topic, p)
    if (!f.exists() || until <= from) return Iterator.empty
    val start = scanLines(f, 0L, from)
    if (start.lines < from) return Iterator.empty
    val stop = scanLines(f, start.lineEnd, until - from)
    var off = from
    new LineSlice(f, start.lineEnd, stop.lineEnd).map { line =>
      val (k, v) = decode(line)
      off += 1
      (k, v, off - 1)
    }
  }

  /** The lines in bytes `[from, until)` of `f`, read in [[BlockBytes]]
    * blocks; `until` must end a line. Closes the file once exhausted. */
  private[sources] final class LineSlice(f: java.io.File, from: Long,
      until: Long) extends Iterator[String] with java.io.Closeable {
    private val raf = new java.io.RandomAccessFile(f, "r")
    raf.seek(from)
    private var left = until - from // bytes not read from the file yet
    private var buf = new Array[Byte](math.max(1L, math.min(BlockBytes, left)).toInt)
    // buf(start until end) is unread; buf(start until scan) holds no newline
    private var start, end, scan = 0
    private var line = advance()

    private def advance(): String = {
      while (scan == end && left > 0 || scan < end && buf(scan) != '\n') {
        if (scan == end) fill() else scan += 1
      }
      if (scan < end) {
        val s = new String(buf, start, scan - start, "UTF-8")
        start = scan + 1
        scan = start
        s
      } else {
        close()
        if (start < end)
          throw new IllegalStateException(s"$f: bytes $from-$until do not end a line")
        null
      }
    }

    private def fill(): Unit = {
      if (start > 0) {
        System.arraycopy(buf, start, buf, 0, end - start)
        end -= start; scan -= start; start = 0
      }
      if (end == buf.length) buf = java.util.Arrays.copyOf(buf, buf.length * 2)
      val n = raf.read(buf, end, math.min(buf.length - end, left).toInt)
      if (n < 0) {
        close()
        throw new IllegalStateException(s"$f ends before byte $until")
      }
      end += n
      left -= n
    }

    override def hasNext: Boolean = line != null
    override def next(): String = {
      if (line == null) throw new NoSuchElementException(s"$f: past byte $until")
      val s = line
      line = advance()
      s
    }
    override def close(): Unit = raf.close()
  }

  /** The reader: a streaming DataFrame with the Kafka source's
    * projection (`key, value, topic, seq`) — drop-in for
    * [[graft.streaming.OrderUnifyPipeline.kafkaSource]]'s output. A
    * fresh checkpoint starts at offset 0 of every log; a resumed one
    * at its checkpointed offsets. */
  def source(spark: SparkSession, root: String, topics: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.col
    spark.readStream
      .format(classOf[FileTopicsProvider].getName)
      .option("root", root)
      .option("topics", topics.mkString(","))
      .load()
      .select(col("key"), col("value"), col("topic"),
        col("offset").as("seq"))
  }

  /** Kafka-sink stand-in with key-routed partitions: call from
    * `foreachBatch`. The batch's `key`/`value` are collected to the
    * driver in one job, routed with [[partitionFor]] and appended per
    * partition through the producer's write routine, so the sink adds
    * no stage or exchange of its own to the batch's plan. Null keys
    * route and encode like the empty key.
    *
    * Idempotent per (query id, batch id): a restarted query replays
    * its last uncommitted batch under the same id, so each partition
    * keeps a ledger `<root>/<topic>/_sink/<query id>.p<k>` holding the
    * last batch id appended to it (written after the append), and a
    * batch at or below it is skipped. The batch is collected even then,
    * so a replayed batch runs its stateful stage as any other. The ids
    * are the local properties Spark's micro-batch thread sets
    * (`sql.streaming.queryId`, `streaming.sql.batchId`) and
    * `foreachBatch` runs on; a call outside a streaming query has
    * neither and always appends. A crash between an append and its
    * ledger write still replays that one partition's rows. */
  def sinkBatch(root: String, topic: String, numPartitions: Int)(
      batch: DataFrame): Unit = {
    import org.apache.spark.sql.functions.col
    val sc = batch.sparkSession.sparkContext
    val ids = for {
      q <- Option(sc.getLocalProperty("sql.streaming.queryId"))
      b <- Option(sc.getLocalProperty("streaming.sql.batchId"))
    } yield (q, b.toLong)
    batch.select(col("key").cast("string"), col("value").cast("string"))
      .collect().map(r => (r.getString(0), r.getString(1)))
      .groupBy { case (k, _) => partitionFor(k, numPartitions) }
      .foreach { case (p, recs) =>
        val ledger = ids.map { case (q, b) =>
          (java.nio.file.Paths.get(root, topic, "_sink", s"$q.p$p"), b)
        }
        if (ledger.forall { case (l, b) => lastSunk(l) < b }) {
          appendLines(root, topic, p, recs)
          ledger.foreach { case (l, b) => recordSunk(l, b) }
        }
      }
  }

  private def lastSunk(ledger: java.nio.file.Path): Long =
    if (!java.nio.file.Files.exists(ledger)) -1L
    else new String(java.nio.file.Files.readAllBytes(ledger), "UTF-8")
      .trim.toLong

  /** Replace the ledger atomically, so a crash never leaves it torn. */
  private def recordSunk(ledger: java.nio.file.Path, batchId: Long): Unit = {
    import java.nio.file.{Files, StandardCopyOption}
    Files.createDirectories(ledger.getParent)
    val tmp = Files.createTempFile(ledger.getParent, ".ledger", ".tmp")
    Files.write(tmp, batchId.toString.getBytes("UTF-8"))
    Files.move(tmp, ledger, StandardCopyOption.ATOMIC_MOVE)
  }
}

/** Offset = (topic, partition) → next line to read, JSON'd with
  * sorted, URL-encoded keys so serialization is canonical. */
private[sources] case class FileTopicsOffset(counts: Map[(String, Int), Long])
    extends Offset {
  override def json(): String =
    counts.toSeq
      .sortBy { case ((t, p), _) => (t, p) }
      .map { case ((t, p), n) =>
        s""""${java.net.URLEncoder.encode(t, "UTF-8")}/$p":$n"""
      }
      .mkString("{", ",", "}")
}

private[sources] object FileTopicsOffset {
  def parse(json: String): FileTopicsOffset = {
    val body = json.trim.stripPrefix("{").stripSuffix("}")
    if (body.isEmpty) return FileTopicsOffset(Map.empty)
    FileTopicsOffset(body.split(",").map { kv =>
      val Array(k, v) = kv.split(":", 2)
      val slash = k.stripPrefix("\"").stripSuffix("\"")
      val cut = slash.lastIndexOf('/')
      val t = java.net.URLDecoder.decode(slash.substring(0, cut), "UTF-8")
      (t, slash.substring(cut + 1).toInt) -> v.toLong
    }.toMap)
  }
}

class FileTopicsProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-file-topics"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    FileTopics.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new FileTopicsTable(properties.get("root"),
      properties.get("topics").split(",").toSeq)
}

private[sources] class FileTopicsTable(root: String, topics: Seq[String])
    extends Table with SupportsRead {
  override def name(): String = s"file-topics($root)"
  override def schema(): StructType = FileTopics.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = FileTopics.Schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new FileTopicsMicroBatchStream(root, topics)
      }
    }
}

/** Result of [[FileTopics.scanLines]]: newlines counted, the byte just
  * past the last one (the start byte if none), and the byte the scan
  * stopped at. */
private[sources] final case class Scanned(lines: Long, lineEnd: Long, end: Long)

/** One partition log's offset index, kept by a
  * [[FileTopicsMicroBatchStream]] where Spark plans the batches: the
  * bytes scanned, the complete lines in them, and the byte position of
  * each offset the stream has returned and not yet committed past. The log is
  * append-only; a log that shrank below the bytes scanned resets the
  * index and is scanned again from its start. */
private[sources] final class LogIndex(file: java.io.File) {
  private var scanned = 0L
  private var lines = 0L
  private var lineEnd = 0L
  private val positions = scala.collection.mutable.TreeMap(0L -> 0L)

  /** The complete lines in the log now. Scans only the bytes appended
    * since the last call — every byte on the first call — and records
    * the returned offset's byte position. */
  def latest(): Long = synchronized {
    if (file.length() < scanned) {
      scanned = 0L; lines = 0L; lineEnd = 0L
      positions.clear()
      positions(0L) = 0L
    }
    val s = FileTopics.scanLines(file, scanned)
    if (s.lines > 0) {
      lines += s.lines
      lineEnd = s.lineEnd
    }
    scanned = s.end
    positions(lines) = lineEnd
    lines
  }

  /** Byte position of `offset`: the recorded one, or (for an offset this
    * index has not returned, e.g. a checkpointed start after a restart)
    * found by scanning forward from the nearest recorded offset below. */
  def position(offset: Long): Long = synchronized {
    positions.getOrElse(offset, {
      val (known, at) = positions.rangeTo(offset).lastOption.getOrElse(0L -> 0L)
      val s = FileTopics.scanLines(file, at, offset - known)
      if (s.lines < offset - known)
        throw new IllegalStateException(s"$file has fewer than $offset complete lines")
      positions(offset) = s.lineEnd
      s.lineEnd
    })
  }

  /** Drops the positions below `offset`, which a committed batch ended
    * at: the next batch starts there. */
  def forget(below: Long): Unit = synchronized {
    positions.filterInPlace((o, _) => o >= below)
  }
}

private[sources] class FileTopicsMicroBatchStream(root: String,
    topics: Seq[String])
    extends MicroBatchStream {

  private val index = scala.collection.mutable.Map.empty[(String, Int), LogIndex]

  private def indexOf(tp: (String, Int)): LogIndex = synchronized {
    index.getOrElseUpdate(tp, new LogIndex(FileTopics.logFile(root, tp._1, tp._2)))
  }

  override def latestOffset(): Offset =
    FileTopicsOffset(FileTopics.logs(root, topics)
      .map { case (tp, _) => tp -> indexOf(tp).latest() }.toMap)

  override def initialOffset(): Offset = FileTopicsOffset(Map.empty)

  override def deserializeOffset(json: String): Offset =
    FileTopicsOffset.parse(json)

  override def commit(end: Offset): Unit =
    end.asInstanceOf[FileTopicsOffset].counts.foreach { case (tp, n) =>
      synchronized(index.get(tp)).foreach(_.forget(n))
    }

  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[FileTopicsOffset].counts
    val e = end.asInstanceOf[FileTopicsOffset].counts
    e.toSeq.sortBy { case ((t, p), _) => (t, p) }.flatMap {
      case ((t, p), until) =>
        val from = s.getOrElse((t, p), 0L)
        if (until > from) {
          val ix = indexOf((t, p))
          Some(FileTopicsInputPartition(root, t, p, from, until,
            ix.position(from), ix.position(until)): InputPartition)
        } else None
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
        val ip = partition.asInstanceOf[FileTopicsInputPartition]
        new PartitionReader[InternalRow] {
          private val lines = new FileTopics.LineSlice(
            FileTopics.logFile(ip.root, ip.topic, ip.p), ip.fromByte, ip.untilByte)
          private val topic = UTF8String.fromString(ip.topic)
          private var off = ip.from
          private var cur: InternalRow = _
          override def next(): Boolean =
            if (lines.hasNext) {
              val (k, v) = FileTopics.decode(lines.next())
              cur = new GenericInternalRow(Array[Any](
                UTF8String.fromString(k), UTF8String.fromString(v), topic, ip.p, off))
              off += 1
              true
            } else if (off == ip.until) false
            else throw new IllegalStateException(s"${ip.topic}/p${ip.p}: bytes " +
              s"${ip.fromByte}-${ip.untilByte} hold ${off - ip.from} lines, " +
              s"not offsets ${ip.from}-${ip.until}")
          override def get(): InternalRow = cur
          override def close(): Unit = lines.close()
        }
      }
    }
}

/** Offsets `[from, until)` of one log, which sit in bytes
  * `[fromByte, untilByte)`. */
private[sources] case class FileTopicsInputPartition(root: String,
    topic: String, p: Int, from: Long, until: Long,
    fromByte: Long, untilByte: Long) extends InputPartition
