package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: media payloads travel as opaque
  * `BinaryType` columns beside a typed metadata struct; decoding /
  * feature extraction runs batched per partition.
  *
  * The Spark-side structure — schema, partition-parallel batched
  * processing, bounded memory per task — is real and tested; the
  * actual byte decoding is STUBBED (no image/audio codecs in this
  * container) behind [[MediaDecode.decodeStub]], a deterministic fake
  * that derives "features" from the payload bytes. Swapping in a real
  * codec changes only that function.
  *
  * Scale notes: payloads never enter a shuffle key; feature extraction
  * is mapPartitions (one JVM call per batch of rows, the Scala analog
  * of arrow-batched UDFs), so per-row overhead is amortized and the
  * 128 MB parquet row-group is the unit of parallelism.
  */
object Multimodal {

  /** A decoded media record: id + payload + metadata. */
  final case class MediaRecord(doc_id: Long, payload: Array[Byte], fmt: String)

  /** Extracted features (stub): deterministic functions of the bytes. */
  final case class MediaFeatures(doc_id: Long, n_bytes: Long, fmt: String,
                                 width: Int, height: Int, checksum: Long)

  /** Wrap a text table as a media table: payload = utf-8 bytes.
    * Stands in for reading real image/audio bytes from parquet binary
    * columns — the schema and downstream plumbing are identical.
    */
  def asMediaTable(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      encode(col("text"), "UTF-8").as("payload"),
      lit("txt").as("fmt"))

  /** STUB decode: a real implementation would parse image headers /
    * decode frames here. The fake derives width/height/checksum
    * deterministically from the payload so the pipeline shape (batch
    * iteration, typed output schema) is fully exercised.
    */
  def decodeStub(payload: Array[Byte]): (Int, Int, Long) = {
    var crc = 0L
    var i = 0
    while (i < payload.length) { crc = (crc * 31 + (payload(i) & 0xff)) % 1000000007L; i += 1 }
    val width = 64 + (crc % 577).toInt
    val height = 64 + ((crc / 577) % 433).toInt
    (width, height, crc)
  }

  /** Fixed-stride frame sampling over the binary payload: one row per
    * sampled block of `frameBytes` bytes, keeping every `stride`-th
    * frame — the shape of video/audio frame extraction (subscript on
    * an opaque payload, native byte-slicing functions, no UDF). The
    * payload column is never shuffled; explode multiplies rows only by
    * the sampled frame count.
    */
  def frameSample(media: DataFrame, frameBytes: Int, stride: Int): DataFrame = {
    require(frameBytes >= 1 && stride >= 1)
    media.select(
        col("doc_id"), col("fmt"),
        explode(sequence(lit(0),
          greatest(lit(0),
            ((octet_length(col("payload")) - 1) / (frameBytes * stride)).cast("int")),
          lit(1))).as("frame_idx"),
        col("payload"))
      .select(
        col("doc_id"), col("fmt"), col("frame_idx").cast("long").as("frame_idx"),
        col("payload")
          .substr(col("frame_idx") * (frameBytes * stride) + 1, lit(frameBytes))
          .as("frame"))
      .where(octet_length(col("frame")) > 0)
  }

  /** Integer-factor "resize": keep every `stride`-th payload byte — the
    * raster/waveform downscale shape on an opaque media column, as a
    * single codegen'd projection ([[graft.expressions.ByteStride]], no
    * UDF, no shuffle). A real resampler replaces the kernel, not the
    * plan. Adds `resized` + `resized_bytes` next to the payload.
    */
  def resample(media: DataFrame, stride: Int): DataFrame = {
    require(stride >= 1)
    media.withColumn("resized", graft.expressions.ByteStride(col("payload"), stride))
      .withColumn("resized_bytes", octet_length(col("resized")).cast("long"))
  }

  /** 64-bit perceptual difference hash ("dHash") of the payload: 65
    * positional cells, bit c set when cell c's mean byte value exceeds
    * cell c+1's — the gradient-sign image-dedup baseline applied to
    * the opaque payload bytes (a real raster replaces the bytes, not
    * the plan). Adjacent-cell comparison localizes in-place
    * perturbations (watermarks, overlays, region edits) to the bits
    * whose cells they touch. One codegen'd single-pass kernel per row
    * ([[graft.expressions.DiffHash64]]); exact integer
    * cross-multiplication, so hashes replay bit-identically in SQL.
    */
  def diffHash(payload: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.expressions.DiffHash64(payload)

  /** Perceptual near-duplicate pairs over a media table: dHash each
    * payload (one projection, payload never shuffled), then the shared
    * 4x16-bit hamming-band equi-join ([[HammingBands.pairs64]] — the
    * same candidate machinery as SimHash text dedup, exhaustive to
    * hamming 3). Payloads shorter than 65 bytes are excluded: with
    * fewer bytes than cells the hash degrades toward a raw byte map
    * and every short payload collides.
    *
    * @param maxBucket per-bucket candidate cap (SCALE.md cliff #2,
    *   [[SimHash.pairs]]' drop contract): mega-clusters of
    *   identical-hash media (solid-color thumbnails, tracking pixels)
    *   otherwise go quadratic in the band self-join.
    */
  def phashPairs(media: DataFrame, idCol: String, payloadCol: String,
                 maxHamming: Int = 3,
                 maxBucket: Option[Long] = None): DataFrame = {
    val hashed = media
      .where(octet_length(col(payloadCol)) >= 65)
      .select(col(idCol), diffHash(col(payloadCol)).as("ph"))
    HammingBands.pairs64(hashed, idCol, "ph", maxHamming, maxBucket,
      caller = "Multimodal.phashPairs")
  }

  /** Partition-batched feature extraction over the media table. */
  def extractFeatures(spark: SparkSession, media: DataFrame): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.select("doc_id", "payload", "fmt").as[MediaRecord]
      .mapPartitions { it =>
        it.map { rec =>
          val (w, h, crc) = decodeStub(rec.payload)
          MediaFeatures(rec.doc_id, rec.payload.length.toLong, rec.fmt, w, h, crc)
        }
      }
  }
}
