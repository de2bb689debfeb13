package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** A decoded-media feature row. `byte_sum` is the sum of decoded
  * gray-channel samples — a content fingerprint proving the raster was
  * actually read.
  *
  * Top-level (not nested in the object): Janino cannot compile
  * generated serializer code that calls accessor methods on a nested
  * `Multimodal$MediaRow`-style class ("no applicable method found for
  * zero actual parameters"), which silently dropped the whole encode /
  * decode projection to interpreted mode. Top-level case classes keep
  * the blob pipeline inside codegen. */
case class MediaFeatures(
    doc_id: Long, mime: String, n_bytes: Int,
    byte_sum: Long, width: Int, height: Int)

private[operators] case class MediaRow(
    doc_id: Long, blob: Array[Byte], mime: String, n_bytes: Int, camera_id: Int)

/** Multimodal-column operators (SURVEY.md §2.3 "Multimodal columns"):
  * image payloads are opaque `binary` columns with a typed metadata
  * struct alongside, decoded by a REAL codec.
  *
  * No image fixtures ship in the container, so `mediaTable` synthesizes
  * genuine BMP images deterministically (dimensions from doc_id, pixels
  * from the document's UTF-8 bytes) — but the decode path is the real
  * thing: `javax.imageio.ImageIO` parses the BMP container, and the
  * reported width/height/pixel statistics come from the decoded raster,
  * not from metadata. Because the dimensions and file sizes are
  * arithmetic functions of doc_id, the DuckDB oracle can recompute them
  * independently — a decode bug (wrong stride, header, row order) shows
  * up as a hash mismatch in q65.
  *
  * Scale notes: blobs ride the same Parquet row groups as scalars, so
  * `spark.sql.files.maxPartitionBytes` bounds per-task memory; both the
  * encode and decode passes are `mapPartitions` (one codec setup per
  * partition, rows streamed through — the same shape a JNI/FFI binding
  * to libjpeg/ffmpeg needs) and stay narrow transforms — no shuffle
  * until the final reporting aggregate.
  */
object Multimodal {

  /** Deterministic blob dimensions: pure functions of doc_id so an
    * external SQL engine can recompute them (q65's oracle). */
  def widthOf(docId: Long): Int = 16 + (docId % 16).toInt
  def heightOf(docId: Long): Int = 12 + (docId % 8).toInt

  /** 24-bit uncompressed BMP (54-byte header + bottom-up BGR rows padded
    * to 4 bytes) — hand-assembled so the bytes are deterministic.
    * `pix(x, y)` supplies the gray value for pixel (x, y), top-down. */
  def encodeBmp(width: Int, height: Int,
      pix: (Int, Int) => Int): Array[Byte] = {
    val rowSize = (width * 3 + 3) / 4 * 4
    val dataSize = rowSize * height
    val buf = java.nio.ByteBuffer.allocate(54 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte).putInt(54 + dataSize)
      .putInt(0).putInt(54)
    buf.putInt(40).putInt(width).putInt(height)
      .putShort(1).putShort(24)
      .putInt(0).putInt(dataSize).putInt(2835).putInt(2835).putInt(0).putInt(0)
    var y = height - 1 // BMP rows are stored bottom-up
    while (y >= 0) {
      var x = 0; var written = 0
      while (x < width) {
        val v = (pix(x, y) & 0xff).toByte
        buf.put(v).put(v).put(v) // grayscale as BGR
        written += 3; x += 1
      }
      while (written < rowSize) { buf.put(0.toByte); written += 1 }
      y -= 1
    }
    buf.array()
  }

  /** Build the multimodal frame from `documents`: blob = a real BMP
    * image whose pixels are derived from the document's bytes, plus a
    * typed metadata struct. Encode runs distributed in mapPartitions —
    * the blob never exists driver-side. */
  def mediaTable(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text) =>
          val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val w = widthOf(id); val h = heightOf(id)
          val blob = encodeBmp(w, h, (x, y) =>
            if (bytes.isEmpty) 0
            else bytes(((y * w + x) * 31 + 7) % bytes.length) & 0xff)
          MediaRow(id, blob, "image/bmp", blob.length, (id % 4).toInt)
        }
      }
      .toDF()
      .select(col("doc_id"), col("blob"),
        struct(col("mime"), col("n_bytes"), col("camera_id")).as("meta"))
  }

  /** REAL media decode over the blob column: `javax.imageio` parses each
    * BMP and the features come from the decoded raster. `mapPartitions`
    * so codec setup (ImageIO plugin lookup, cache config) happens once
    * per partition; rows stream through the decoder one at a time. */
  def decodeFeatures(spark: SparkSession, dir: String): Dataset[MediaFeatures] = {
    import spark.implicits._
    mediaTable(spark, dir)
      .select(col("doc_id"), col("meta.mime").as("mime"), col("blob"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions { rows =>
        // per-partition decoder setup
        javax.imageio.ImageIO.setUseCache(false)
        rows.map { case (id, mime, blob) =>
          val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(blob))
          require(img != null, s"undecodable media payload for doc_id=$id")
          val raster = img.getRaster
          var s = 0L; var y = 0
          while (y < img.getHeight) {
            var x = 0
            while (x < img.getWidth) { s += raster.getSample(x, y, 0); x += 1 }
            y += 1
          }
          MediaFeatures(id, mime, blob.length, s, img.getWidth, img.getHeight)
        }
      }
  }

  /** q67: RESIZE — nearest-neighbor factor-2 downsample of the DECODED
    * raster, the standard thumbnail/feature-prep step. Same mapPartitions
    * codec shape as [[decodeFeatures]] (ImageIO setup once per
    * partition, rows streamed through); the resample reads every (2x,2y)
    * sample of the true decoded image, so the emitted checksum proves
    * decode AND resample touched the real pixels. Because the encoded
    * pixel at (x,y) is `text_bytes[((y·w+x)·31+7) mod len]`
    * (see [[Multimodal.mediaTable]]), the oracle recomputes the
    * resampled sum from the text column with pure arithmetic — no codec
    * in DuckDB, yet a per-document end-to-end pixel check. */
  def resizeStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaTable(spark, dir)
      .select(col("doc_id"), col("blob")).as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false)
        rows.map { case (id, blob) =>
          val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(blob))
          require(img != null, s"undecodable media payload for doc_id=$id")
          val ow = img.getWidth / 2
          val oh = img.getHeight / 2
          val raster = img.getRaster
          var s = 0L; var y = 0
          while (y < oh) {
            var x = 0
            while (x < ow) { s += raster.getSample(2 * x, 2 * y, 0); x += 1 }
            y += 1
          }
          (id, ow, oh, s)
        }
      }
      .toDF("doc_id", "out_w", "out_h", "resampled_sum")
      .orderBy("doc_id")
  }

  /** q6k: PERCEPTUAL-HASH image dedup — dHash (difference hash,
    * Krawetz): sample the decoded raster on a 9×8 nearest-neighbor
    * grid, emit one bit per horizontally-adjacent sample pair
    * (`right > left`), group the corpus by the 64-bit hash. Exact
    * byte-level dedup (q50/q51) misses re-encoded copies of the same
    * picture; dHash is invariant to any strictly-order-preserving
    * pixel transform, so a brightness-shifted re-encode lands in the
    * same bucket while its container bytes (and content hash) differ
    * everywhere. The fixture plants exactly that: every doc_id % 50
    * image re-enters as a +10-brightness re-encode under id+1_000_000
    * (ASCII-derived pixels are ≤126, so +10 never saturates and the
    * order of every sample pair is preserved — the invariance is
    * exact, not approximate).
    *
    * Scale shape: decode + hash is one narrow `mapPartitions` pass
    * (codec per partition); the only shuffle is a groupBy on the
    * 64-bit hash — near-Hamming variants would band these bits the
    * q54 SimHash way, never all-pairs. The oracle replays the grid
    * arithmetic from the text bytes (the q67 technique) with NO
    * brightness term — both comparison sides shift equally, which is
    * precisely the invariance being graded. */
  def phashDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val copies = Tables.documents(spark, dir)
      .filter(col("doc_id") % 50 === 0)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text) =>
          val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val w = widthOf(id); val h = heightOf(id)
          val blob = encodeBmp(w, h, (x, y) =>
            (if (bytes.isEmpty) 0
             else bytes(((y * w + x) * 31 + 7) % bytes.length) & 0xff) + 10)
          MediaRow(id + 1000000L, blob, "image/bmp", blob.length, (id % 4).toInt)
        }
      }
      .toDF()
      .select(col("doc_id"), col("blob"),
        struct(col("mime"), col("n_bytes"), col("camera_id")).as("meta"))
    val hashes = mediaTable(spark, dir).unionByName(copies)
      .select(col("doc_id"), col("blob")).as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false)
        rows.map { case (id, blob) =>
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(blob))
          require(img != null, s"undecodable media payload for doc_id=$id")
          val raster = img.getRaster
          val w = img.getWidth; val h = img.getHeight
          var hi = 0L; var lo = 0L; var b = 0
          while (b < 64) {
            val gx = b % 8; val sy = (b / 8) * h / 8
            val s0 = raster.getSample(gx * w / 9, sy, 0)
            val s1 = raster.getSample((gx + 1) * w / 9, sy, 0)
            if (s1 > s0) {
              if (b < 32) lo |= 1L << b else hi |= 1L << (b - 32)
            }
            b += 1
          }
          (id, hi, lo)
        }
      }
      .toDF("doc_id", "hash_hi", "hash_lo")
    hashes.groupBy("hash_hi", "hash_lo")
      .agg(
        count(lit(1)).as("n_members"),
        min("doc_id").as("min_id"),
        max("doc_id").as("max_id"),
        sum(when(col("doc_id") >= 1000000L, 1L).otherwise(0L)).as("n_planted"))
      .filter(col("n_members") > 1)
      .orderBy("hash_hi", "hash_lo")
  }

  val phashDedupOracle: String = """
    WITH base AS (
      SELECT doc_id, text,
             16 + (doc_id % 16) AS w,
             12 + (doc_id % 8) AS h,
             length(text) AS len
      FROM documents),
    all_imgs AS (
      SELECT doc_id, text, w, h, len FROM base
      UNION ALL
      SELECT doc_id + 1000000, text, w, h, len
      FROM base WHERE doc_id % 50 = 0),
    hashes AS (
      SELECT doc_id,
        CAST(list_sum(list_transform(range(0, 32), b ->
          (CASE WHEN ascii(substr(text,
                  1 + (((((b // 8) * h // 8) * w + ((b % 8) + 1) * w // 9)
                        * 31 + 7) % len), 1))
                > ascii(substr(text,
                  1 + (((((b // 8) * h // 8) * w + (b % 8) * w // 9)
                        * 31 + 7) % len), 1))
           THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END) << b))
          AS BIGINT) AS hash_lo,
        CAST(list_sum(list_transform(range(32, 64), b ->
          (CASE WHEN ascii(substr(text,
                  1 + (((((b // 8) * h // 8) * w + ((b % 8) + 1) * w // 9)
                        * 31 + 7) % len), 1))
                > ascii(substr(text,
                  1 + (((((b // 8) * h // 8) * w + (b % 8) * w // 9)
                        * 31 + 7) % len), 1))
           THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END) << (b - 32)))
          AS BIGINT) AS hash_hi
      FROM all_imgs)
    SELECT hash_hi, hash_lo,
           CAST(count(1) AS BIGINT) AS n_members,
           min(doc_id) AS min_id,
           max(doc_id) AS max_id,
           CAST(sum(CASE WHEN doc_id >= 1000000 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_planted
    FROM hashes
    GROUP BY hash_hi, hash_lo
    HAVING count(1) > 1
    ORDER BY hash_hi, hash_lo"""

  /** "Frame sampling": slice every k-th byte window of the blob as a
    * frame — the plumbing (explode of per-row frame arrays with
    * metadata) matches video-frame extraction. */
  def sampleFrames(spark: SparkSession, dir: String, every: Int = 64): DataFrame =
    mediaTable(spark, dir)
      .select(
        col("doc_id"),
        posexplode(transform(
          sequence(lit(0), floor((length(col("blob")) - 1) / every).cast("int")),
          i => col("blob").substr((i * every + 1).cast("int"), lit(every)))))
      .withColumnsRenamed(Map("pos" -> "frame_idx", "col" -> "frame_bytes"))
      .select(col("doc_id"), col("frame_idx"), length(col("frame_bytes")).as("frame_len"))

  /** AUDIO leg of the multimodal surface: synthesize a deterministic
    * 16-bit little-endian PCM clip per document (sample i of doc d is
    * `((d·31 + i·17) mod 2003) − 1001` — pure integer arithmetic, so an
    * external engine can regenerate the waveform), carried as an opaque
    * `binary` column with a typed metadata struct — the same
    * blob-plus-metadata contract as the image leg. Encode runs
    * distributed in mapPartitions; the clip never exists driver-side. */
  def audioTable(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val n = 768 + (id % 5).toInt * 128
          val buf = java.nio.ByteBuffer.allocate(2 * n)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          var i = 0
          while (i < n) {
            buf.putShort((((id * 31 + i * 17) % 2003) - 1001).toShort)
            i += 1
          }
          (id, buf.array(), 16000, n)
        }
      }
      .toDF("doc_id", "pcm", "sample_rate", "n_samples")
      .select(col("doc_id"), col("pcm"),
        struct(col("sample_rate"), col("n_samples")).as("meta"))
  }

  /** q69: audio decode + FRAME SAMPLING — the speech-pipeline
    * feature-prep step (frame size 256, hop 128, the standard 50%
    * overlap). The decode is a REAL byte-level PCM parse (ByteBuffer,
    * little-endian int16) of the blob column inside mapPartitions —
    * same codec shape as the ImageIO leg — and every emitted feature
    * (peak amplitude, zero crossings, summed per-frame energy) is
    * computed from the DECODED samples, all in exact integer
    * arithmetic so the oracle regenerates the waveform closed-form and
    * replays the numbers bit-for-bit. A wrong endianness, stride, or
    * frame boundary shifts every checksum. */
  def audioFrameStats(spark: SparkSession, dir: String,
      frameSize: Int = 256, hop: Int = 128): DataFrame = {
    import spark.implicits._
    audioTable(spark, dir)
      .select(col("doc_id"), col("pcm")).as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, blob) =>
          val bb = java.nio.ByteBuffer.wrap(blob)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          val n = blob.length / 2
          val xs = new Array[Int](n)
          var i = 0
          while (i < n) { xs(i) = bb.getShort().toInt; i += 1 }
          var maxAbs = 0L; var zc = 0L
          i = 0
          while (i < n) {
            val a = math.abs(xs(i)).toLong
            if (a > maxAbs) maxAbs = a
            if (i > 0 && ((xs(i) >= 0) != (xs(i - 1) >= 0))) zc += 1
            i += 1
          }
          val nFrames = if (n >= frameSize) (n - frameSize) / hop + 1 else 0
          var e = 0L; var fr = 0
          while (fr < nFrames) {
            var o = 0
            while (o < frameSize) {
              val x = xs(fr * hop + o).toLong; e += x * x; o += 1
            }
            fr += 1
          }
          (id, n.toLong, nFrames.toLong, maxAbs, zc, e)
        }
      }
      .toDF("doc_id", "n_samples", "n_frames", "max_abs", "n_zero_cross",
        "frame_energy")
      .orderBy("doc_id")
  }

  /** Reporting query over the decoded features. Every output column is
    * either decode-independent arithmetic (n_media) or recoverable from
    * the DECODED raster dimensions/file size — and since dimensions are
    * arithmetic in doc_id, the DuckDB oracle recomputes all of it
    * without a codec, hash-checking the decode end-to-end. (byte_sum,
    * the content fingerprint, is checked by MultimodalSpec's exact
    * encode→decode roundtrip instead — text-byte indexing is not
    * reasonably expressible in SQL.) */
  def mediaStats(spark: SparkSession, dir: String): DataFrame =
    decodeFeatures(spark, dir).toDF()
      .groupBy("mime")
      .agg(
        count(lit(1)).as("n_media"),
        sum("n_bytes").as("total_bytes"),
        min("width").as("min_w"), max("width").as("max_w"),
        min("height").as("min_h"), max("height").as("max_h"))
      .orderBy("mime")

  /** [[mediaTable]] with deterministically PLANTED corruption — the
    * q9l fixture: every doc_id ≡ 0 (mod 97) blob is truncated to 10
    * bytes (shorter than any BMP header), every remaining doc_id ≡ 0
    * (mod 89) gets its 'BM' magic overwritten. Corruption is applied
    * with codegen'd binary functions (`substring`/`concat` work on
    * BinaryType), not a second decode pass. */
  private[operators] def corruptedMediaTable(spark: SparkSession,
      dir: String): DataFrame =
    mediaTable(spark, dir)
      .withColumn("blob",
        when(col("doc_id") % 97 === 0, substring(col("blob"), 1, 10))
          .when(col("doc_id") % 89 === 0,
            concat(lit(Array[Byte](0x58.toByte, 0x58.toByte)),
              expr("substring(blob, 3, 1073741823)")))
          .otherwise(col("blob")))

  /** q9l: MEDIA INTEGRITY QUARANTINE — the malformed-input triage a
    * 100 TB multimodal ingest MUST run before decode-heavy stages:
    * corrupt blobs are guaranteed at crawl scale, and an unguarded
    * decoder either crashes the job or (worse) silently drops
    * partitions. Every blob is classified in one streaming pass —
    * header-length check, magic-bytes check, then a REAL guarded
    * ImageIO decode for the survivors (same mapPartitions codec shape
    * as [[decodeFeatures]]) — and the graded table is the quarantine
    * report: per-status blob counts, corpus share, and the pixel
    * checksum of everything that decoded clean (proving the quarantine
    * does not corrupt the good path: the checksum replays closed-form
    * from the [[mediaTable]] pixel arithmetic, the q67 oracle trick).
    * Corruption is PLANTED deterministically ([[corruptedMediaTable]])
    * so the oracle classifies by pure doc_id arithmetic — no codec in
    * DuckDB, yet an end-to-end check of the whole triage path. */
  def mediaIntegrity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val classified = corruptedMediaTable(spark, dir)
      .select(col("doc_id"), col("blob")).as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false)
        rows.map { case (id, blob) =>
          if (blob.length < 54) (id, "truncated", 0L)
          else if (blob(0) != 'B'.toByte || blob(1) != 'M'.toByte)
            (id, "bad_magic", 0L)
          else {
            val img = try {
              javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(blob))
            } catch { case _: Throwable => null }
            if (img == null) (id, "undecodable", 0L)
            else {
              val raster = img.getRaster
              var s = 0L; var y = 0
              while (y < img.getHeight) {
                var x = 0
                while (x < img.getWidth) { s += raster.getSample(x, y, 0); x += 1 }
                y += 1
              }
              (id, "ok", s)
            }
          }
        }
      }
      .toDF("doc_id", "status", "checksum")
    val perStatus = classified.groupBy("status").agg(
      count(lit(1)).as("n_blobs"),
      sum("checksum").as("pixel_checksum"))
    perStatus
      .withColumn("n_total",
        sum("n_blobs").over(org.apache.spark.sql.expressions.Window.partitionBy()))
      .withColumn("share_ppm", floor(
        col("n_blobs").cast("double") * 1e6 / col("n_total") + 0.5).cast("long"))
      .select("status", "n_blobs", "pixel_checksum", "share_ppm")
      .orderBy("status")
  }

  def mediaIntegrityOracle: String = """
    WITH d AS (
      SELECT doc_id, text, length(text) AS len,
             16 + (doc_id % 16) AS w, 12 + (doc_id % 8) AS h,
             CASE WHEN doc_id % 97 = 0 THEN 'truncated'
                  WHEN doc_id % 89 = 0 THEN 'bad_magic'
                  ELSE 'ok' END AS status
      FROM documents),
    s AS (
      SELECT status, CAST(count(1) AS BIGINT) AS n_blobs,
             CAST(sum(CASE WHEN status = 'ok' THEN
               list_sum(list_transform(range(0, w * h),
                 p -> ascii(substring(text, CAST((p * 31 + 7) % len AS INTEGER) + 1, 1))))
               ELSE 0 END) AS BIGINT) AS pixel_checksum
      FROM d GROUP BY status),
    tot AS (SELECT CAST(sum(n_blobs) AS BIGINT) AS n_total FROM s)
    SELECT s.status, s.n_blobs, s.pixel_checksum,
           CAST(floor(CAST(s.n_blobs AS DOUBLE) * 1e6 / tot.n_total + 0.5)
             AS BIGINT) AS share_ppm
    FROM s CROSS JOIN tot ORDER BY s.status"""

  /** qbd: VIDEO KEYFRAME EXTRACTION — the temporal leg of the
    * multimodal surface: a "video" is a SEQUENCE of frame blobs per
    * document (each a real 8×8 BMP; scene structure planted so frames
    * within a 4-frame scene differ slightly and frames across a scene
    * cut differ wholesale), and keyframes are detected the way
    * shot-boundary pipelines do it: per-frame 64-bit MEAN-THRESHOLD
    * signature (bit i = pixel i above the frame mean — the pHash core
    * without the DCT) from the DECODED raster, then the Hamming
    * distance between CONSECUTIVE frames; a frame opens a new scene
    * when the distance clears the threshold. Graded per video:
    * frame/scene/keyframe counts, whether detection recovered exactly
    * the planted cuts, and the summed cut distance.
    *
    * The q65 doctrine end-to-end: pixels are pure arithmetic of
    * (doc_id, frame, scene), so the DuckDB oracle replays signature
    * bits and Hamming counts WITHOUT a codec — the Spark side must
    * decode the real BMPs correctly for the hashes to meet. Signature
    * packs as two 32-bit halves (BIGINT-safe in both engines; one
    * 64-bit word would need the sign bit). The threshold comparison
    * `64·v > Σv` is exact integer arithmetic — no float mean.
    *
    * Scale shape: frame explode is a narrow generate; decode+signature
    * is one mapPartitions codec pass (the family's sanctioned shape);
    * the temporal diff is a lag window PARTITIONED by video — never a
    * global sort. Real footage swaps the synthetic encode for demuxed
    * frames; every stage downstream of the blob column is unchanged. */
  def keyframes(spark: SparkSession, dir: String,
      sceneLen: Int = 4, hammingThr: Int = 16): DataFrame = {
    import spark.implicits._
    val vids = Tables.documents(spark, dir)
      .where(col("doc_id") % 25 === 0)
      .select(col("doc_id"),
        (lit(8L) + col("doc_id") % 9L).cast("int").as("n_frames"))
    val frames = vids
      .select(col("doc_id"), col("n_frames"),
        explode(expr("sequence(0, n_frames - 1)")).as("f"))
      .as[(Long, Int, Int)]
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false)
        rows.map { case (id, nf, f) =>
          val blob = encodeBmp(8, 8, (x, y) =>
            framePix(id, f, x + 8 * y, sceneLen))
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(blob))
          require(img != null, s"undecodable frame $f of video $id")
          val raster = img.getRaster
          val v = Array.tabulate(64)(i => raster.getSample(i % 8, i / 8, 0))
          val sum = v.sum
          var h0 = 0L; var h1 = 0L
          var i = 0
          while (i < 64) {
            if (64L * v(i) > sum) {
              if (i < 32) h0 |= 1L << i else h1 |= 1L << (i - 32)
            }
            i += 1
          }
          (id, nf, f, h0, h1)
        }
      }
      .toDF("doc_id", "n_frames", "f", "h0", "h1")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("f")
    frames
      .withColumn("ph0", lag("h0", 1).over(w))
      .withColumn("ph1", lag("h1", 1).over(w))
      .withColumn("hamming", expr(
        "CASE WHEN ph0 IS NULL THEN NULL " +
          "ELSE bit_count(h0 ^ ph0) + bit_count(h1 ^ ph1) END"))
      .withColumn("keyframe",
        col("hamming").isNull || col("hamming") > hammingThr)
      .groupBy("doc_id")
      .agg(
        first("n_frames").cast("long").as("n_frames"),
        countDistinct(expr(s"f div $sceneLen")).as("n_scenes"),
        sum(when(col("keyframe"), 1L).otherwise(0L)).as("n_keyframes"),
        coalesce(sum(when(col("keyframe") && col("hamming").isNotNull,
          col("hamming"))), lit(0L)).as("sum_cut_hamming"))
      .withColumn("cuts_recovered", col("n_keyframes") === col("n_scenes"))
      .orderBy("doc_id")
  }

  /** Frame pixel formula (pure arithmetic; the oracle replays it):
    * scene seed shifts wholesale at scene cuts, the `+ f` term drifts
    * frames slightly within a scene. */
  def framePix(docId: Long, f: Int, i: Int, sceneLen: Int): Int = {
    val seed = (docId * 31L + (f / sceneLen) * 17L) % 1009L
    ((seed * (i + 1) + f) % 256L).toInt
  }

  /** DuckDB replay of [[keyframes]]: same pixel formula, same exact
    * integer mean threshold, same consecutive-frame Hamming, no codec. */
  def keyframesOracle: String = """
    WITH vids AS (
      SELECT doc_id, CAST(8 + doc_id % 9 AS INT) AS n_frames
      FROM documents WHERE doc_id % 25 = 0),
    fr AS (
      SELECT doc_id, n_frames, unnest(range(n_frames)) AS f FROM vids),
    px AS (
      SELECT doc_id, n_frames, f, i,
             ((doc_id * 31 + (f // 4) * 17) % 1009 * (i + 1) + f) % 256 AS v
      FROM fr CROSS JOIN (SELECT unnest(range(64)) AS i)),
    sums AS (
      SELECT doc_id, n_frames, f, sum(v) AS sv FROM px GROUP BY 1, 2, 3),
    bits AS (
      SELECT px.doc_id, px.n_frames, px.f, px.i,
             CASE WHEN 64 * px.v > s.sv THEN 1 ELSE 0 END AS b
      FROM px JOIN sums s
        ON px.doc_id = s.doc_id AND px.f = s.f),
    ham AS (
      SELECT a.doc_id, a.n_frames, a.f,
             sum(CASE WHEN a.b <> b.b THEN 1 ELSE 0 END) AS hamming
      FROM bits a JOIN bits b
        ON a.doc_id = b.doc_id AND a.i = b.i AND b.f = a.f - 1
      GROUP BY 1, 2, 3),
    kf AS (
      SELECT fr.doc_id, fr.n_frames, fr.f, ham.hamming,
             ham.hamming IS NULL OR ham.hamming > 16 AS keyframe
      FROM fr LEFT JOIN ham
        ON fr.doc_id = ham.doc_id AND fr.f = ham.f)
    SELECT doc_id,
           CAST(max(n_frames) AS BIGINT) AS n_frames,
           CAST(count(DISTINCT f // 4) AS BIGINT) AS n_scenes,
           CAST(sum(CASE WHEN keyframe THEN 1 ELSE 0 END) AS BIGINT)
             AS n_keyframes,
           CAST(coalesce(sum(CASE WHEN keyframe AND hamming IS NOT NULL
             THEN hamming END), 0) AS BIGINT) AS sum_cut_hamming,
           sum(CASE WHEN keyframe THEN 1 ELSE 0 END)
             = count(DISTINCT f // 4) AS cuts_recovered
    FROM kf GROUP BY doc_id ORDER BY doc_id"""
}
