package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Incremental media-artifact build: appending one source partition's
  * documents must (a) leave every pre-existing parquet file untouched
  * byte-for-byte and (b) produce exactly the rows a full rebuild over
  * the union would — the 100 TB pricing contract for an arriving
  * partition. */
class MediaIncrementSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  private def writeDocs(dir: String, ids: Range): Unit = {
    import spark.implicits._
    ids.map { i =>
      (i.toLong, s"document number $i with some text body", "en", "synth",
        30L + i)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  private def snapshot(root: String): Map[String, (Long, Long)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else Seq(f)
    walk(new java.io.File(root))
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getAbsolutePath -> (f.length(), f.lastModified())).toMap
  }

  test("append adds one partition's rows without rewriting existing files") {
    val base = graft.TestSpark.tempDir("mediainc")
    val dirA = s"$base/a"; val dirAB = s"$base/ab"
    writeDocs(dirA, 0 until 5)
    writeDocs(dirAB, 0 until 8)

    val rootA = MediaArtifact.materialize(spark, dirA)
    val before = snapshot(s"$rootA/media")
    assert(before.nonEmpty)

    // the arriving source partition: docs 5..7 only
    val newDocs = graft.Tables.documents(spark, dirAB)
      .filter(col("doc_id") >= 5)
    MediaArtifact.appendDocs(spark, rootA, newDocs)

    // (a) every pre-existing file untouched (same length + mtime)
    val after = snapshot(s"$rootA/media")
    before.foreach { case (path, meta) =>
      assert(after.get(path).contains(meta),
        s"pre-existing file was rewritten by the append: $path")
    }
    assert(after.size > before.size, "the append must add new files")

    // (b) value equality with a full rebuild over the union
    val rootAB = MediaArtifact.materialize(spark, dirAB)
    def canon(root: String): Set[(Long, String, String, Long, String)] =
      spark.read.parquet(s"$root/media")
        .select(col("id"), col("format"), col("mime"), col("n_bytes"),
          md5(col("media")).as("h"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getLong(3), r.getString(4))).toSet
    assert(canon(rootA) == canon(rootAB),
      "append result must hash-match the full rebuild")
  }
}
