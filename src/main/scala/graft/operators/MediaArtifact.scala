package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Materialized media table — every synthesized container written ONCE
  * as a parquet `binary` column and consumed by the whole multimodal
  * query family. Until round 8 each `q_multimodal_*` synthesized its
  * bytes in-query from `documents` rows, so "multimodal columns" never
  * exercised parquet binary IO, page-level pruning of the blob column,
  * or decode over data the query didn't just create; now the decode
  * queries read stored blobs like a production media lake does.
  *
  * Layout: one parquet dataset `(id, mime, n_bytes, media binary)`,
  * PARTITIONED BY `format` — a format-scoped decode pass prunes to its
  * partition directory, and a metadata-only query (id/mime/n_bytes)
  * never reads a media page (`MediaArtifactSpec` pins both in the
  * plan). The byte size is stored ALONGSIDE the blob precisely so
  * catalog queries stay off the binary column.
  *
  * The synthesis recipes are the deterministic integer functions the
  * DuckDB oracles replay ([[Codecs]], [[Jpeg]],
  * [[Multimodal.wrapWithHeader]]).
  */
object MediaArtifact extends Artifact(
    s"media_v${MediaArtifact.LayoutVersion}", "documents", "", Seq("media")) {

  final case class MediaRow(
      id: Long, mime: String, n_bytes: Long, media: Array[Byte], format: String)

  implicit val mediaRowEnc: Encoder[MediaRow] = Encoders.product[MediaRow]

  /** All materialized formats (one row per document per format). */
  val Formats: Seq[String] = Seq(
    "plain", "container", "wav", "ulaw", "bmp", "png", "png_from_bmp",
    "gif", "gif_variant", "gif_anim", "jpeg", "avi", "avi_rle", "mp3",
    "tiff", "mpg")

  /** Bump when the layout or format set changes: the data fingerprint
    * keys on documents.parquet only, so a code-side schema evolution
    * must version the path or a stale artifact would be served.
    * v3: + avi_rle (MS-RLE8 inter-frame video, round 9).
    * v4: + mp3 (MPEG-1 Layer III frame stream, round 11).
    * v5: + tiff (baseline II uncompressed RGB8, round 11).
    * v6: + mpg (MPEG-1 video elementary stream, round 12). */
  private final val LayoutVersion = 6

  /** All 16 container synths for one batch of documents `(id, text
    * bytes)` — shared by the full build and the append path. */
  private def mediaRows(docs: Dataset[(Long, Array[Byte])]): Dataset[MediaRow] =
    docs.mapPartitions { it =>
      it.flatMap { case (id, payload) =>
        val n = payload.length
        def row(fmt: String, mime: String, bytes: Array[Byte]) =
          MediaRow(id, mime, bytes.length.toLong, bytes, fmt)
        val (cBytes, cMime) = Multimodal.wrapWithHeader(id, payload)
        Seq(
          row("plain", "text/plain", payload),
          row("container", cMime, cBytes),
          row("wav", "audio/wav", Codecs.synthesizeWav(id, n)),
          row("ulaw", "audio/basic", Codecs.synthesizeUlawWav(id, n)),
          row("bmp", "image/bmp", Codecs.synthesizeBmp(id, n)),
          row("png", "image/png", Codecs.synthesizePng(id, n)),
          row("png_from_bmp", "image/png",
            Codecs.encodePng(id, Codecs.bmpWidth(id), Codecs.bmpHeight(n),
              Codecs.bmpChannel(id, _, _, _))),
          row("gif", "image/gif", Codecs.synthesizeGif(id, n)),
          row("gif_variant", "image/gif", Codecs.synthesizeGifVariant(id, n)),
          row("gif_anim", "image/gif", Codecs.synthesizeAnimatedGif(id, n)),
          row("jpeg", "image/jpeg", Jpeg.synthesizeJpeg(id, n)),
          row("avi", "video/x-msvideo", Video.synthesizeMjpegAvi(id, n)),
          row("avi_rle", "video/x-msvideo", Video.synthesizeRle8Avi(id, n)),
          row("mp3", "audio/mpeg", Codecs.synthesizeMp3(id, n)),
          row("tiff", "image/tiff", Codecs.synthesizeTiff(id, n)),
          row("mpg", "video/mpeg", Mpeg1.synthesizeMpeg1(id, n)))
      }
    }(mediaRowEnc)

  /** One pass over documents, one partitioned write. 16 container
    * synths per doc, all in-partition. */
  protected def build(b: Artifact.Build): Unit = {
    val docs = docBytes(b.spark, Tables.documents(b.spark, b.dir))
    b.write("media", mediaRows(docs).toDF(), "format")
  }

  private def docBytes(spark: SparkSession,
      docs: DataFrame): Dataset[(Long, Array[Byte])] = {
    import spark.implicits._
    docs.select(col("doc_id").as("id"), col("text").cast("binary"))
      .as[(Long, Array[Byte])]
  }

  /** INCREMENTAL build: synthesize media rows for `newDocs`
    * (`doc_id, text`) ONLY and append them into the artifact at
    * `root` — at 100 TB an arriving source partition prices one
    * synth-and-append over ITS rows, not a 16-format rebuild of the
    * whole lake. Parquet append adds new files inside each `format=`
    * partition directory; every pre-existing file is untouched
    * byte-for-byte (MediaIncrementSpec pins both: old files
    * unmodified, and full-rebuild value equality). Caller owns the
    * root and dedup of re-sent ids (append is at-least-once, exactly
    * like a production media lake's ingest contract). Runs under the
    * root's build lock and drops its cached relations, so a later read
    * lists the appended files. */
  def appendDocs(spark: SparkSession, root: String,
      newDocs: DataFrame): Unit = Artifacts.withLock(root) {
    mediaRows(docBytes(spark, newDocs)).toDF().write.mode("append")
      .partitionBy("format").parquet(s"$root/media")
    Artifacts.invalidate(root)
  }

  /** The full media table (format is the partition column). */
  def table(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "media")

  /** One format's records as the typed decode-seam input. The format
    * filter is a PARTITION filter (directory pruning, no data read
    * outside the format). */
  def records(spark: SparkSession, dir: String,
      format: String): Dataset[Multimodal.MediaRecord] = {
    import Multimodal.mediaRecordEnc
    table(spark, dir).filter(col("format") === format)
      .select(col("id"), col("media"), col("mime"))
      .as[Multimodal.MediaRecord]
  }
}
