package graft.sources

import java.io.{File, FileNotFoundException, RandomAccessFile}
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileContext, FileStatus, FileSystem,
  Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** The `file:` binding in `core-site.xml`: Hadoop resolves the local
  * scheme to [[NioLocalFileSystem]] / [[NioLocalFs]], checkpoint writes
  * start no `chmod`/`readlink` process, the results equal the stock
  * `RawLocalFileSystem`'s, and checksums are still written and
  * verified. */
class LocalFsSpec extends AnyFunSuite with graft.StreamingSuite {
  private lazy val spark = graft.TestSpark.spark
  private val localUri = new URI("file:///")

  private def tmp(prefix: String): File = new File(graft.TestSpark.tempDir(prefix))

  /** The command lines of the processes this JVM starts while `body`
    * runs, from an in-process JFR recording of `jdk.ProcessStart`. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      try body finally rec.stop()
      val out = new File(tmp("jfr"), "starts.jfr").toPath
      rec.dump(out)
      RecordingFile.readAllEvents(out).asScala.toSeq.map(_.getString("command"))
    } finally rec.close()
  }

  /** Starts of the commands the stock local file system forks. Spark's
    * own `rm -rf` at state-store load is not one of them. */
  private def fsForks(commands: Seq[String]): Seq[String] =
    commands.filter { c =>
      Set("chmod", "readlink", "ls", "stat")(c.trim.split("\\s+").head.split('/').last)
    }

  test("a plain Configuration binds file: to the program's local file systems") {
    val conf = new Configuration()
    assert(FileSystem.get(localUri, conf).getClass == classOf[NioLocalFileSystem])
    assert(FileContext.getLocalFSFileContext(conf).getDefaultFileSystem.getClass ==
      classOf[NioLocalFs])
  }

  test("the recorder sees a process this JVM starts") {
    val starts = processStarts(new ProcessBuilder("readlink", "/").start().waitFor(): Unit)
    assert(fsForks(starts).exists(_.startsWith("readlink")), starts)
  }

  test("an atomic checkpoint file, mkdirs, rename and delete start no process") {
    val dir = tmp("localfs-ops")
    val conf = spark.sparkContext.hadoopConfiguration
    val starts = processStarts {
      val cfm = CheckpointFileManager.create(new Path(dir.getPath), conf)
      val out = cfm.createAtomic(new Path(dir.getPath, "0"), false)
      out.write("v1\n{}".getBytes("UTF-8"))
      out.close()

      val fs = FileSystem.get(localUri, conf)
      val a = new Path(dir.getPath, "fs/a")
      assert(fs.mkdirs(a))
      fs.create(new Path(a, "f")).close()
      assert(fs.rename(a, new Path(dir.getPath, "fs/b")))
      assert(fs.delete(new Path(dir.getPath, "fs"), true))

      val fc = FileContext.getFileContext(conf)
      val c = new Path(dir.getPath, "fc/c")
      fc.mkdir(c, FsPermission.getDirDefault, true)
      fc.create(new Path(c, "f"), java.util.EnumSet.of(CreateFlag.CREATE)).close()
      fc.rename(new Path(c, "f"), new Path(c, "g"), Options.Rename.OVERWRITE)
      assert(fc.delete(new Path(dir.getPath, "fc"), true))
    }
    assert(new File(dir, "0").isFile)
    assert(fsForks(starts).isEmpty, starts)
  }

  test("triggers of a FileTopics -> parse -> unify query start no file-system process") {
    val root = tmp("localfs-query").getPath
    val ckpt = s"${graft.TestSpark.checkpointDir}/localfs-query"
    Seq("created", "placed", "cancelled").foreach { t =>
      FileTopics.append(root, s"order-$t", 2, (1 to 3).map { i =>
        (s"fs-$i", s"""{"order-id":"fs-$i","type":"$t",""" +
          """"timestamp":"2024-08-16T15:51:19.799Z","order_details":{"d":1}}""")
      })
    }
    def sunk(): Set[String] = (0 until 2).flatMap(p => FileTopics
      .readRange(root, "order-projection", p, 0L, Long.MaxValue).map(_._1)).toSet
    val starts = processStarts {
      val src = FileTopics.source(spark, root, graft.streaming.OrderUnifyPipeline.sourceTopics)
      val q = graft.streaming.OrderUnifyPipeline.projections(src, bufferMillis = 800)
        .select(col("orderId").as("key"), col("payloadJson").as("value"))
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          FileTopics.sinkBatch(root, "order-projection", 2)(df)
        }
        .trigger(Trigger.ProcessingTime("200 milliseconds"))
        .start()
      try {
        val deadline = System.currentTimeMillis() + 60000
        while (sunk().size < 3 && q.exception.isEmpty &&
          System.currentTimeMillis() < deadline) Thread.sleep(300)
        q.exception.foreach(e => fail(s"query died: ${e.cause}", e))
        assert(sunk() == Set("fs-1", "fs-2", "fs-3"))
        // the data batch and at least one timer batch
        assert(Option(q.lastProgress).exists(_.batchId >= 1))
      } finally q.stop()
    }
    assert(fsForks(starts).isEmpty, fsForks(starts).groupBy(identity).map(_._2.size))
    // the checkpoint keeps its checksum sidecars
    assert(new File(s"$ckpt/offsets/.0.crc").isFile && new File(s"$ckpt/commits/.0.crc").isFile)
  }

  private def rawPair(): (RawLocalFileSystem, RawNioFileSystem) = {
    val conf = new Configuration()
    val stock = new RawLocalFileSystem
    stock.initialize(localUri, conf)
    val nio = new RawNioFileSystem
    nio.initialize(localUri, conf)
    (stock, nio)
  }

  private def view(s: FileStatus) =
    (s.getPath, s.isFile, s.isDirectory, s.isSymlink, s.getLen, s.getModificationTime,
      s.getPermission, s.getOwner, s.getGroup, if (s.isSymlink) Some(s.getSymlink) else None)

  test("getFileLinkStatus equals the stock class's on files, directories, symlinks and misses") {
    val (stock, nio) = rawPair()
    val dir = tmp("localfs-links")
    val file = new File(dir, "file")
    Files.write(file.toPath, "abc".getBytes("UTF-8"))
    val sub = new File(dir, "sub")
    assert(sub.mkdir())
    val link = new File(dir, "link")
    Files.createSymbolicLink(link.toPath, file.toPath)
    val dangling = new File(dir, "dangling")
    Files.createSymbolicLink(dangling.toPath, new File(dir, "gone").toPath)

    for (f <- Seq(file, sub, link, dangling)) {
      val p = new Path(f.getPath)
      assert(view(nio.getFileLinkStatus(p)) == view(stock.getFileLinkStatus(p)), f)
    }
    val linked = nio.getFileLinkStatus(new Path(link.getPath))
    assert(linked.isSymlink && linked.getSymlink.toUri.getScheme == "file" &&
      linked.getSymlink.toUri.getPath == file.getPath)
    assert(nio.getFileLinkStatus(new Path(dangling.getPath)).isSymlink)
    val missing = new Path(dir.getPath, "missing")
    intercept[FileNotFoundException](stock.getFileLinkStatus(missing))
    intercept[FileNotFoundException](nio.getFileLinkStatus(missing))
  }

  test("setPermission leaves the stock class's bits on disk, sticky bit included") {
    val (stock, nio) = rawPair()
    val dir = tmp("localfs-perms")
    for (mode <- Seq("600", "644", "700", "755")) {
      val perm = new FsPermission(Integer.parseInt(mode, 8).toShort)
      val onDisk = Seq[RawLocalFileSystem](stock, nio).map { fs =>
        val f = new File(dir, s"$mode-${fs.getClass.getSimpleName}")
        assert(f.createNewFile())
        fs.setPermission(new Path(f.getPath), perm)
        PosixFilePermissions.toString(Files.getPosixFilePermissions(f.toPath))
      }
      assert(onDisk == Seq.fill(2)(perm.toString), mode)
    }
    val sticky = new FsPermission(Integer.parseInt("1777", 8).toShort)
    val modes = Seq[RawLocalFileSystem](stock, nio).map { fs =>
      val d = new File(dir, s"sticky-${fs.getClass.getSimpleName}")
      assert(d.mkdir())
      fs.setPermission(new Path(d.getPath), sticky)
      Files.getAttribute(d.toPath, "unix:mode").asInstanceOf[Int] & 0xfff
    }
    assert(modes == Seq.fill(2)(Integer.parseInt("1777", 8)))
  }

  test("a checkpoint file gets a .crc sidecar and a flipped byte fails the read") {
    val dir = tmp("localfs-crc")
    val cfm = CheckpointFileManager.create(new Path(dir.getPath),
      spark.sparkContext.hadoopConfiguration)
    val data = Array.tabulate[Byte](1000)(i => (i % 97).toByte)
    val path = new Path(dir.getPath, "7")
    val out = cfm.createAtomic(path, false)
    out.write(data)
    out.close()
    assert(new File(dir, ".7.crc").isFile)
    // read back through the `FileSystem` API, which verifies the sums
    // (Hadoop's `FileContext` read of a local file does not, with the
    // stock `LocalFs` as with this binding)
    val fs = FileSystem.get(localUri, spark.sparkContext.hadoopConfiguration)
    def readAll(): Array[Byte] = {
      val in = fs.open(path)
      try in.readAllBytes() finally in.close()
    }
    assert(readAll().sameElements(data))
    val raf = new RandomAccessFile(new File(dir, "7"), "rw")
    try { raf.seek(100); raf.write(data(100) ^ 0x5a) } finally raf.close()
    intercept[ChecksumException](readAll())
  }
}
