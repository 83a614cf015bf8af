package graft.operators

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Q, Tables}

/** Multimodal column plumbing: image/audio/video as opaque `binary`
  * columns with typed metadata, processed batch-wise via
  * `mapPartitions` (the Scala analog of `mapInPandas` batches).
  *
  * The decode step is a REAL image codec — `javax.imageio`'s pure-JVM
  * PNG reader — running inside the partition iterator: payload bytes
  * in, decoded dimensions + pixel checksum out, no driver-side
  * collection anywhere. Payloads are synthesized PNGs (deterministic
  * pixels from doc_id) because the fixture tables carry no real media;
  * swapping ingestion to real files changes only the source select.
  */
object Multimodal {

  /** An ingested media row: opaque payload + source metadata. */
  final case class MediaRow(doc_id: Long, fmt: String, payload: Array[Byte])

  /** Extracted features from a decoded payload. */
  final case class MediaFeatures(doc_id: Long, fmt: String, n_bytes: Long,
      width: Int, height: Int, checksum: Long)

  /** A fixed-size thumbnail row (the resize / frame-sample transform). */
  final case class Thumb(doc_id: Long, src_w: Int, src_h: Int,
      thumb_w: Int, thumb_h: Int, thumb_checksum: Long)

  /** Decoded audio features (WAV/PCM). */
  final case class AudioFeatures(doc_id: Long, sample_rate: Int,
      n_channels: Int, n_samples: Long, n_bytes: Long, abs_sum: Long)

  /** A strided frame sample over a decoded media stream. */
  final case class FrameSample(doc_id: Long, n_samples: Long, stride: Long,
      n_frames: Long, sampled_sum: Long)

  /** Perceptual average-hash of a decoded image, packed as two 32-bit
    * halves so downstream Hamming math stays in positive int64. */
  final case class AHash(doc_id: Long, h1: Long, h2: Long, n_bits: Long)

  object MediaCodec {
    // in-memory streams only — keep ImageIO off its disk scratch cache
    ImageIO.setUseCache(false)

    /** Deterministic synthetic RGB PNG for a doc id: dimensions and
      * every pixel are pure functions of the id, so specs can assert
      * exact decoded values. */
    def synthPng(docId: Long): Array[Byte] = {
      val w = 16 + (docId % 17).toInt
      val h = 16 + (docId % 13).toInt
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val v = (docId * 1315423911L + y * 2654435761L + x * 97531L) & 0xffffffL
          img.setRGB(x, y, v.toInt)
          x += 1
        }
        y += 1
      }
      val bos = new ByteArrayOutputStream()
      ImageIO.write(img, "png", bos)
      bos.toByteArray
    }

    /** Expected features for a doc id WITHOUT round-tripping through
      * the codec — the independent oracle the spec checks decode
      * against. */
    def expectedFeatures(docId: Long): MediaFeatures = {
      val w = 16 + (docId % 17).toInt
      val h = 16 + (docId % 13).toInt
      var sum = 0L
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          sum += (docId * 1315423911L + y * 2654435761L + x * 97531L) & 0xffffffL
          x += 1
        }
        y += 1
      }
      MediaFeatures(docId, "png", synthPng(docId).length.toLong, w, h, sum)
    }

    val WAV_RATE = 8000

    private def wavSample(docId: Long, i: Int): Int =
      ((i * (20 + docId % 50)) % 2000 - 1000).toInt

    private def wavSampleCount(docId: Long): Int = 256 + (docId % 256).toInt

    /** Deterministic 16-bit mono PCM WAV (RIFF container, 44-byte
      * canonical header) — an integer sawtooth, so every byte is a pure
      * function of the doc id. */
    def synthWav(docId: Long): Array[Byte] = {
      val n = wavSampleCount(docId)
      val dataLen = n * 2
      val buf = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
        .put("WAVE".getBytes("US-ASCII"))
      buf.put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1)            // PCM
        .putShort(1)            // mono
        .putInt(WAV_RATE)
        .putInt(WAV_RATE * 2)   // byte rate
        .putShort(2)            // block align
        .putShort(16)           // bits per sample
      buf.put("data".getBytes("US-ASCII")).putInt(dataLen)
      (0 until n).foreach(i => buf.putShort(wavSample(docId, i).toShort))
      buf.array()
    }

    /** Real RIFF/WAV parse: validates the container tags, reads the
      * format chunk, and returns (rate, channels, PCM samples) — a
      * corrupted byte in header or data is observable. */
    private def parseWav(docId: Long,
        payload: Array[Byte]): (Int, Int, Array[Short]) = {
      val buf = java.nio.ByteBuffer.wrap(payload)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      def tag(): String = {
        val b = new Array[Byte](4); buf.get(b); new String(b, "US-ASCII")
      }
      require(tag() == "RIFF", s"not a RIFF stream for doc $docId")
      buf.getInt()
      require(tag() == "WAVE", s"not a WAVE stream for doc $docId")
      require(tag() == "fmt ", s"missing fmt chunk for doc $docId")
      require(buf.getInt() == 16 && buf.getShort() == 1, "not canonical PCM")
      val channels = buf.getShort().toInt
      val rate = buf.getInt()
      buf.getInt(); buf.getShort(); buf.getShort()
      require(tag() == "data", s"missing data chunk for doc $docId")
      val n = buf.getInt() / 2
      val samples = new Array[Short](n)
      (0 until n).foreach(i => samples(i) = buf.getShort())
      (rate, channels, samples)
    }

    def decodeWav(rows: Iterator[MediaRow]): Iterator[AudioFeatures] =
      rows.map { r =>
        val (rate, channels, samples) = parseWav(r.doc_id, r.payload)
        var absSum = 0L
        samples.foreach(s => absSum += math.abs(s.toLong))
        AudioFeatures(r.doc_id, rate, channels, samples.length.toLong,
          r.payload.length.toLong, absSum)
      }

    /** Strided frame sampling over the decoded stream — the video
      * frame-sample analog on the media type this container carries:
      * pick k evenly-strided frames (stride = n div k), fold the
      * sampled values. Runs inside the partition iterator like every
      * codec stage. Clips shorter than k frames fail LOUDLY (the
      * parser's style); a permissive ingest should filter or flag
      * short clips before this stage rather than have it guess. */
    def frameSample(rows: Iterator[MediaRow],
        k: Int): Iterator[FrameSample] =
      rows.map { r =>
        val (_, _, samples) = parseWav(r.doc_id, r.payload)
        // same loud-failure style as the parser: stride 0 would fold
        // frame 0 k times and report a silently wrong sample
        require(samples.length >= k,
          s"doc ${r.doc_id}: ${samples.length} frames < sample size $k")
        val stride = samples.length / k
        var sum = 0L
        (0 until k).foreach(j => sum += samples(j * stride).toLong)
        FrameSample(r.doc_id, samples.length.toLong, stride.toLong,
          k.toLong, sum)
      }

    /** Formula-side expectation for [[decodeWav]] over [[synthWav]]. */
    def expectedAudio(docId: Long): AudioFeatures = {
      val n = wavSampleCount(docId)
      val absSum = (0 until n).map(i => math.abs(wavSample(docId, i).toLong)).sum
      AudioFeatures(docId, WAV_RATE, 1, n.toLong, 44L + n * 2, absSum)
    }

    /** Partition-wise PNG decode via javax.imageio: iterator in,
      * iterator out, zero driver state. The reader instance is the
      * per-partition "expensive resource"; pixels are checksummed so a
      * single corrupted byte is observable. */
    def decodePng(rows: Iterator[MediaRow]): Iterator[MediaFeatures] =
      rows.map { r =>
        val img = ImageIO.read(new ByteArrayInputStream(r.payload))
        require(img != null, s"undecodable payload for doc ${r.doc_id}")
        var sum = 0L
        var y = 0
        while (y < img.getHeight) {
          var x = 0
          while (x < img.getWidth) {
            sum += img.getRGB(x, y) & 0xffffff
            x += 1
          }
          y += 1
        }
        MediaFeatures(r.doc_id, r.fmt, r.payload.length.toLong,
          img.getWidth, img.getHeight, sum)
      }

    /** Decode + perceptual average-hash: integer grayscale, area-mean
      * downsample to 8×8 (each pixel belongs to exactly one block via
      * `y*8/h`), per-block integer mean, threshold at the mean of the
      * 64 block means, bit set iff strictly above. Every step is
      * integer division toward zero on non-negative operands — i.e.
      * floor — so a SQL oracle over the pixel formula reproduces the
      * hash bit-for-bit without touching a codec. */
    def ahashPng(rows: Iterator[MediaRow]): Iterator[AHash] =
      rows.map { r =>
        val img = ImageIO.read(new ByteArrayInputStream(r.payload))
        require(img != null, s"undecodable payload for doc ${r.doc_id}")
        val (w, h) = (img.getWidth, img.getHeight)
        val sums = Array.ofDim[Long](8, 8)
        val cnts = Array.ofDim[Long](8, 8)
        var y = 0
        while (y < h) {
          val i = y * 8 / h
          var x = 0
          while (x < w) {
            val j = x * 8 / w
            val p = img.getRGB(x, y) & 0xffffff
            sums(i)(j) += ((p >> 16) + ((p >> 8) & 255) + (p & 255)) / 3
            cnts(i)(j) += 1
            x += 1
          }
          y += 1
        }
        var total = 0L
        val bm = Array.tabulate(8, 8) { (i, j) =>
          val m = sums(i)(j) / cnts(i)(j); total += m; m
        }
        val mean = total / 64
        var h1 = 0L; var h2 = 0L; var nb = 0L
        var i = 0
        while (i < 8) {
          var j = 0
          while (j < 8) {
            if (bm(i)(j) > mean) {
              nb += 1
              if (i < 4) h1 |= 1L << (i * 8 + j)
              else h2 |= 1L << ((i - 4) * 8 + j)
            }
            j += 1
          }
          i += 1
        }
        AHash(r.doc_id, h1, h2, nb)
      }

    val THUMB = 8

    /** Decode + nearest-neighbor downsample to THUMB×THUMB. Sampling is
      * explicit pixel indexing (`x * srcW / THUMB`), not an AWT scaling
      * pipeline, so the thumbnail is bit-deterministic across JVMs —
      * the property a content-addressed media pipeline needs. */
    def thumbnail(rows: Iterator[MediaRow]): Iterator[Thumb] =
      rows.map { r =>
        val img = ImageIO.read(new ByteArrayInputStream(r.payload))
        require(img != null, s"undecodable payload for doc ${r.doc_id}")
        val (w, h) = (img.getWidth, img.getHeight)
        var sum = 0L
        var y = 0
        while (y < THUMB) {
          var x = 0
          while (x < THUMB) {
            sum += img.getRGB(x * w / THUMB, y * h / THUMB) & 0xffffff
            x += 1
          }
          y += 1
        }
        Thumb(r.doc_id, w, h, THUMB, THUMB, sum)
      }

    /** Formula-side expectation for [[thumbnail]] (independent of the
      * codec), for spec use. */
    def expectedThumb(docId: Long): Thumb = {
      val w = 16 + (docId % 17).toInt
      val h = 16 + (docId % 13).toInt
      var sum = 0L
      var y = 0
      while (y < THUMB) {
        var x = 0
        while (x < THUMB) {
          val (sx, sy) = (x * w / THUMB, y * h / THUMB)
          sum += (docId * 1315423911L + sy * 2654435761L + sx * 97531L) & 0xffffffL
          x += 1
        }
        y += 1
      }
      Thumb(docId, w, h, THUMB, THUMB, sum)
    }
  }

  /** One synthesized `fmt` payload per document id, the ingest stand-in
    * every codec query decodes. Codec work is CPU-bound per row, and a
    * small parquet input is one split → one task → one core doing every
    * decode, so the id scan goes through [[Tables.spread]]: on a
    * layout-capped input it hash-shuffles the (tiny) id rows to session
    * width BEFORE the codec stages — the shuffle moves longs, the decode
    * uses every core — and on an input already split that wide it adds
    * no shuffle at all. */
  private def mediaRows(s: SparkSession, d: String, fmt: String,
      synth: Long => Array[Byte]): Dataset[MediaRow] = {
    import s.implicits._
    Tables.spread(s, d, "documents", "doc_id")
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => MediaRow(id, fmt, synth(id))))
  }

  val queries: Seq[Q] = Seq(

    // ----- binary ingestion + metadata (functions-only, oracle-checked) ----
    Q("q36_media_meta",
      """SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'image'
        |       WHEN doc_id % 3 = 1 THEN 'audio'
        |       ELSE 'video' END AS fmt,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  CAST(ceil(octet_length(encode(text)) / 4096.0) AS BIGINT) AS n_chunks
        |FROM documents""".stripMargin) { (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        when(col("doc_id") % 3 === 0, "image")
          .when(col("doc_id") % 3 === 1, "audio")
          .otherwise("video").as("fmt"),
        length(col("text").cast("binary")).cast("long").as("n_bytes"),
        ceil(length(col("text").cast("binary")) / 4096.0).cast("long")
          .as("n_chunks"))
    },

    // ----- partition-wise real PNG encode + decode via mapPartitions -------
    // Synthesize a PNG payload per doc (the ingest stand-in), then
    // decode it with javax.imageio inside the partition. The decoded
    // dimensions AND the full pixel checksum are pure functions of
    // doc_id, so the oracle recomputes them from the pixel formula
    // (lateral ranges over the y/x grid) WITHOUT any codec — the SQL
    // independently cross-checks the real decode path, byte-for-byte.
    // Only the PNG container length (n_bytes) is codec-internal; it is
    // asserted in MultimodalSpec instead.
    Q("q37_media_decode",
      """SELECT d.doc_id, 'png' AS fmt,
        |  CAST(16 + d.doc_id % 17 AS INTEGER) AS width,
        |  CAST(16 + d.doc_id % 13 AS INTEGER) AS height,
        |  CAST(sum((d.doc_id * 1315423911 + y.y * 2654435761 + x.x * 97531)
        |           & 16777215) AS BIGINT) AS checksum
        |FROM documents d
        |CROSS JOIN unnest(range(0, 16 + d.doc_id % 13)) AS y(y)
        |CROSS JOIN unnest(range(0, 16 + d.doc_id % 17)) AS x(x)
        |GROUP BY d.doc_id""".stripMargin) { (s, d) =>
      import s.implicits._
      mediaRows(s, d, "png", MediaCodec.synthPng)
        .mapPartitions(MediaCodec.decodePng _)
        .toDF()
        .select(col("doc_id"), col("fmt"), col("width"), col("height"),
          col("checksum"))
    },

    // ----- resize / frame-sample: deterministic 8×8 thumbnails -------------
    // Dimensions ARE oracle-checkable (pure functions of doc_id); the
    // pixel checksum is spec-asserted against the formula oracle.
    // ----- real WAV/PCM audio decode in partitions -------------------------
    // RIFF header fields are pure functions of the doc id → oracle-
    // checkable; the sample fold (abs_sum) is spec-asserted against the
    // waveform formula.
    Q("q60_audio_decode",
      """SELECT doc_id,
        |  CAST(8000 AS INTEGER) AS sample_rate,
        |  CAST(1 AS INTEGER) AS n_channels,
        |  CAST(256 + doc_id % 256 AS BIGINT) AS n_samples,
        |  CAST(44 + (256 + doc_id % 256) * 2 AS BIGINT) AS n_bytes
        |FROM documents""".stripMargin) { (s, d) =>
      import s.implicits._
      mediaRows(s, d, "wav", MediaCodec.synthWav)
        .mapPartitions(MediaCodec.decodeWav _)
        .toDF()
        .select(col("doc_id"), col("sample_rate"), col("n_channels"),
          col("n_samples"), col("n_bytes"))
    },

    // ----- strided frame sampling (the video-pipeline primitive) -----------
    // Training pipelines rarely decode EVERY frame — they sample k
    // evenly-strided frames per clip. Same plumbing demonstrated on the
    // PCM stream the WAV container carries: real parse, stride = n div
    // k, fold of exactly the sampled frames. Every output column is a
    // pure function of doc_id, so the oracle recomputes the strided sum
    // from the waveform formula without a codec (the q37/q60 pattern).
    Q("q96_frame_sample",
      """WITH p AS (
        |  SELECT doc_id, 256 + doc_id % 256 AS n,
        |    (256 + doc_id % 256) // 32 AS stride,
        |    20 + doc_id % 50 AS f
        |  FROM documents)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
        |  CAST(stride AS BIGINT) AS stride,
        |  CAST(32 AS BIGINT) AS n_frames,
        |  CAST((SELECT sum((j * stride * f) % 2000 - 1000)
        |        FROM unnest(range(0, 32)) AS u(j)) AS BIGINT) AS sampled_sum
        |FROM p""".stripMargin) { (s, d) =>
      import s.implicits._
      mediaRows(s, d, "wav", MediaCodec.synthWav)
        .mapPartitions(MediaCodec.frameSample(_, 32))
        .toDF()
        .select(col("doc_id"), col("n_samples"), col("stride"),
          col("n_frames"), col("sampled_sum"))
    },

    Q("q47_media_thumbnail",
      """SELECT doc_id,
        |  CAST(16 + doc_id % 17 AS INTEGER) AS src_w,
        |  CAST(16 + doc_id % 13 AS INTEGER) AS src_h,
        |  CAST(8 AS INTEGER) AS thumb_w, CAST(8 AS INTEGER) AS thumb_h
        |FROM documents""".stripMargin) { (s, d) =>
      import s.implicits._
      mediaRows(s, d, "png", MediaCodec.synthPng)
        .mapPartitions(MediaCodec.thumbnail _)
        .toDF()
        .select(col("doc_id"), col("src_w"), col("src_h"),
          col("thumb_w"), col("thumb_h"))
    },

    // ----- image perceptual hash (aHash) over the REAL decoded raster ------
    // The image-side analog of the text fingerprint family: an 8×8
    // average-hash per image, the primitive image near-dup pipelines
    // bucket on (exact-match buckets for resize/re-encode dups; the
    // SimHash 4-band pigeonhole applies unchanged for Hamming ≤ 3).
    // The Spark path hashes the ACTUAL decoded raster in partitions
    // (real codec, the q37 discipline); the oracle recomputes the
    // identical hash from the pixel formula in pure SQL — every step
    // is floor division on non-negative integers, so a real-decode
    // drift of even one pixel breaks the hash match. Packed as two
    // 32-bit halves: Hamming distance downstream is
    // bit_count(h1a^h1b) + bit_count(h2a^h2b) in positive int64, no
    // two's-complement hazard. Codec stages widen through mediaRows
    // (CPU-bound per row); the hash output is 4 longs per image — the
    // 100 TB shape where pixels never shuffle.
    Q("q154_image_ahash",
      """WITH px AS (
        |  SELECT d.doc_id, 16 + d.doc_id % 13 AS h, 16 + d.doc_id % 17 AS w,
        |    y.y, x.x,
        |    (d.doc_id * 1315423911 + y.y * 2654435761 + x.x * 97531)
        |      & 16777215 AS p
        |  FROM documents d
        |  CROSS JOIN unnest(range(0, 16 + d.doc_id % 13)) AS y(y)
        |  CROSS JOIN unnest(range(0, 16 + d.doc_id % 17)) AS x(x)),
        |g AS (
        |  SELECT doc_id, h, w, y, x,
        |    ((p >> 16) + ((p >> 8) & 255) + (p & 255)) // 3 AS gray
        |  FROM px),
        |b AS (
        |  SELECT doc_id, (y * 8) // h AS i, (x * 8) // w AS j,
        |    sum(gray) // count(*) AS bm
        |  FROM g GROUP BY doc_id, i, j),
        |m AS (SELECT doc_id, sum(bm) // 64 AS mean FROM b GROUP BY doc_id),
        |bits AS (
        |  SELECT b.doc_id, b.i, b.j,
        |    CASE WHEN b.bm > m.mean THEN 1 ELSE 0 END AS bit
        |  FROM b JOIN m ON b.doc_id = m.doc_id)
        |SELECT doc_id,
        |  CAST(sum(CASE WHEN i < 4
        |    THEN CAST(bit AS BIGINT) << CAST(i * 8 + j AS INT) ELSE 0 END) AS BIGINT) AS h1,
        |  CAST(sum(CASE WHEN i >= 4
        |    THEN CAST(bit AS BIGINT) << CAST((i - 4) * 8 + j AS INT) ELSE 0 END) AS BIGINT)
        |    AS h2,
        |  CAST(sum(bit) AS BIGINT) AS n_bits
        |FROM bits GROUP BY doc_id""".stripMargin) { (s, d) =>
      import s.implicits._
      mediaRows(s, d, "png", MediaCodec.synthPng)
        .mapPartitions(MediaCodec.ahashPng _)
        .toDF()
        .select(col("doc_id"), col("h1"), col("h2"), col("n_bits"))
    }
  )
}
