package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: image/audio/video travel as opaque
  * `binary` columns next to typed metadata, and per-item decode /
  * feature-extraction runs as a partition-local stage (`mapPartitions`
  * over a typed Dataset — the Scala analogue of `mapInPandas`: one
  * decoder instantiation per partition, batch-shaped access, no
  * per-row driver involvement).
  *
  * IMAGE decode is REAL: [[decodeImageInfo]] reads PNG/JPEG/GIF/BMP via
  * the JDK's `javax.imageio` (no external dependency) and emits
  * dimensions, channel count, and per-channel means. AUDIO decode is
  * REAL for WAV: [[decodeAudioInfo]] parses PCM via
  * `javax.sound.sampled` and emits format metadata, frame count, and
  * mean amplitude. In both, undecodable bytes degrade to an
  * `ok = false` row, never an exception. For MP4/MP3-class payloads,
  * CONTAINER metadata (duration, dimensions, codec fourcc, frame
  * structure) is parsed for real by [[Containers]] — pure
  * byte-slicing of the public ISO-BMFF / MPEG-audio layouts, no codec
  * needed. Only compressed-sample DECODE (H.264 frames, MP3 PCM) has
  * no JDK codec and goes through the deterministic [[decodeStub]] —
  * the Spark-side contract (schema, partitioning, batch shape, null
  * behavior) is identical either way; swap the stub for a JNI/JavaCV
  * decoder in production.
  */
object Multimodal {

  final case class MediaFeatures(media_id: Long, n_bytes: Long,
                                 checksum: Long, feature: Array[Float])

  /** STUB decoder — deterministic fake in place of a real codec.
    * Produces a byte-histogram-ish feature so downstream stages (dedup,
    * similarity) have realistic shapes to consume.
    */
  def decodeStub(bytes: Array[Byte], featureDim: Int): Array[Float] = {
    val f = new Array[Float](featureDim)
    var i = 0
    while (i < bytes.length) { f(i % featureDim) += (bytes(i) & 0xFF) / 255.0f; i += 1 }
    f
  }

  /** Partition-local decode/feature-extract over (media_id, media)
    * rows. Executors each process whole partitions — sized by the
    * upstream `repartition`, which is how you bound decoder memory at
    * 100 TB (many small partitions, each a decoder batch).
    */
  def extractFeatures(df: DataFrame, featureDim: Int = 8): Dataset[MediaFeatures] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("media_id").cast("long"), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        // one decoder context per partition lives here
        rows.map { case (id, bytes) =>
          val b = if (bytes == null) Array.empty[Byte] else bytes
          var crc = 0L
          b.foreach(x => crc = (crc * 31 + (x & 0xFF)) % 1000000007L)
          MediaFeatures(id, b.length.toLong, crc, decodeStub(b, featureDim))
        }
      }
  }

  final case class ImageInfo(media_id: Long, ok: Boolean, width: Int,
                             height: Int, channels: Int,
                             mean_r: Int, mean_g: Int, mean_b: Int)

  /** REAL image decode over (id, bytes) rows: `javax.imageio` parses
    * the payload (PNG/JPEG/GIF/BMP — whatever the JDK registry knows),
    * yielding dimensions, raster channel count, and floor'd per-channel
    * sRGB means. Runs as the same partition-local `mapPartitions` stage
    * as [[extractFeatures]] — one decoder context per partition, no
    * driver involvement, decoder memory bounded by partition sizing.
    * `ImageIO.setUseCache(false)` keeps decode in-memory: the default
    * temp-FILE stream cache would put a disk round-trip under every
    * image on every executor. Bytes that fail to parse (corrupt,
    * truncated, not an image, null) produce `(id, ok=false, 0…)` rows —
    * at 100 TB some payloads WILL be garbage and one bad row must not
    * kill a stage. The guard is `NonFatal`, not just `IOException`:
    * JDK image readers throw RuntimeExceptions (ArrayIndexOutOfBounds,
    * NegativeArraySize, IllegalArgument) on malformed payloads.
    */
  def decodeImageInfo(df: DataFrame, idCol: String = "media_id",
                      binCol: String = "media"): Dataset[ImageInfo] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false)
        rows.map { case (id, bytes) =>
          val img =
            if (bytes == null || bytes.length == 0) null
            else
              try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
              catch { case scala.util.control.NonFatal(_) => null }
          if (img == null) ImageInfo(id, ok = false, 0, 0, 0, 0, 0, 0)
          else try {
            val w = img.getWidth
            val h = img.getHeight
            val n = w.toLong * h
            var sr = 0L; var sg = 0L; var sb = 0L
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val rgb = img.getRGB(x, y)
                sr += (rgb >> 16) & 0xFF
                sg += (rgb >> 8) & 0xFF
                sb += rgb & 0xFF
                x += 1
              }
              y += 1
            }
            ImageInfo(id, ok = true, w, h, img.getRaster.getNumBands,
              (sr / n).toInt, (sg / n).toInt, (sb / n).toInt)
          } catch {
            // getRGB/raster access on exotic color models can also blow
            // up with RuntimeExceptions — same degradation contract.
            case scala.util.control.NonFatal(_) =>
              ImageInfo(id, ok = false, 0, 0, 0, 0, 0, 0)
          }
        }
      }
  }

  /** Deterministic PNG fixture generator: one `(id%7+1) × (id%5+1)`
    * image per id, every pixel `rgb(id%256, 7id%256, 13id%256)`. PNG is
    * lossless, so [[decodeImageInfo]] must return exactly those
    * dimensions and means — which makes the REAL decode path
    * oracle-checkable in plain SQL (the oracle predicts the round-trip
    * from the id; q128). Fixture/test utility: a production corpus
    * arrives with its binaries.
    */
  def encodeTestImages(df: DataFrame, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long")).as[Long]
      .mapPartitions { ids =>
        javax.imageio.ImageIO.setUseCache(false)
        ids.map { id =>
          val w = (id % 7 + 1).toInt
          val h = (id % 5 + 1).toInt
          val img = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
          val rgb = (((id % 256) << 16) | ((id * 7 % 256) << 8) | (id * 13 % 256)).toInt
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) { img.setRGB(x, y, rgb); x += 1 }
            y += 1
          }
          val out = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", out)
          (id, out.toByteArray)
        }
      }
      .toDF("media_id", "media")
  }

  final case class AudioInfo(media_id: Long, ok: Boolean, sample_rate: Int,
                             channels: Int, bits: Int, n_frames: Long,
                             mean_amp: Long)

  /** REAL audio decode for WAV payloads via the JDK's
    * `javax.sound.sampled` (no external dependency): container metadata
    * (sample rate, channels, bit depth), frame count, and the floor'd
    * mean of all 16-bit PCM samples — the "did we actually decode the
    * waveform" witness. Same partition-local mapPartitions stage and
    * same degradation contract as [[decodeImageInfo]]: unparseable or
    * non-PCM-16 payloads yield `(id, ok=false, 0…)` rows, never a
    * stage failure. Compressed codecs (MP3/AAC/opus) are not in the
    * JDK — those payloads still route through [[decodeStub]].
    */
  def decodeAudioInfo(df: DataFrame, idCol: String = "media_id",
                      binCol: String = "media"): Dataset[AudioInfo] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        val bad = (id: Long) => AudioInfo(id, ok = false, 0, 0, 0, 0L, 0L)
        rows.map { case (id, bytes) =>
          if (bytes == null || bytes.length == 0) bad(id)
          else try {
            val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
              new java.io.ByteArrayInputStream(bytes))
            val fmt = ais.getFormat
            val pcm16 =
              fmt.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
                fmt.getSampleSizeInBits == 16 && !fmt.isBigEndian
            if (!pcm16) bad(id)
            else {
              val data = ais.readAllBytes()
              val n = data.length / 2
              var sum = 0L
              var i = 0
              while (i < n) {
                sum += ((data(2 * i) & 0xFF) | (data(2 * i + 1) << 8)).toShort
                i += 1
              }
              AudioInfo(id, ok = true, fmt.getSampleRate.toInt,
                fmt.getChannels, fmt.getSampleSizeInBits,
                n.toLong / fmt.getChannels,
                if (n == 0) 0L else Math.floorDiv(sum, n.toLong))
            }
          } catch {
            // NonFatal, not just the checked pair: JDK audio parsers
            // throw RuntimeExceptions on malformed headers (negative
            // sizes, bad chunk lengths) and one garbage payload must
            // not kill the stage.
            case scala.util.control.NonFatal(_) => bad(id)
          }
        }
      }
  }

  /** Deterministic WAV fixture generator: 8 kHz mono 16-bit PCM,
    * `(id % 100) + 1` frames, every sample `id % 30000 − 15000`. WAV is
    * lossless PCM, so [[decodeAudioInfo]] must return exactly those
    * values — the audio twin of [[encodeTestImages]] (q130's oracle
    * predicts the round-trip from the id).
    */
  def encodeTestWavs(df: DataFrame, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long")).as[Long]
      .mapPartitions { ids =>
        val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
        ids.map { id =>
          val frames = (id % 100 + 1).toInt
          val amp = (id % 30000 - 15000).toShort
          val data = new Array[Byte](frames * 2)
          var i = 0
          while (i < frames) {
            data(2 * i) = (amp & 0xFF).toByte
            data(2 * i + 1) = ((amp >> 8) & 0xFF).toByte
            i += 1
          }
          val ais = new javax.sound.sampled.AudioInputStream(
            new java.io.ByteArrayInputStream(data), fmt, frames.toLong)
          val out = new java.io.ByteArrayOutputStream()
          javax.sound.sampled.AudioSystem.write(ais,
            javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
          (id, out.toByteArray)
        }
      }
      .toDF("media_id", "media")
  }

  /** Declarative media stats — byte length and head byte straight off
    * the binary column, no decode round-trip.
    */
  def mediaStats(df: DataFrame, idCol: String, binCol: String): DataFrame =
    df.select(
      col(idCol),
      length(col(binCol)).cast("long").as("media_bytes"),
      ascii(col(binCol).cast("string")).as("head_byte"))

  final case class AudioSignal(media_id: Long, ok: Boolean,
                               n_samples: Long, peak_amp: Long,
                               sum_sq: Long, zero_crossings: Long,
                               clipped: Long)

  /** Waveform QUALITY signals off decoded 16-bit PCM — the audio-
    * curation stats a TTS/ASR data pipeline gates on: peak amplitude
    * (silence detection), exact sum of squares (RMS = sqrt(sum_sq/n),
    * left to the caller so every emitted column stays an exact
    * integer), sign-flip zero crossings (noise/tone character), and
    * samples at/above `clipThreshold` (clipping). Same mapPartitions
    * stage and ok=false degradation contract as [[decodeAudioInfo]];
    * integer outputs make the whole decode→stats path hash-oracle-able
    * against id-predictable fixtures ([[encodeTestWavsSquare]]).
    */
  def audioSignalStats(df: DataFrame, idCol: String = "media_id",
                       binCol: String = "media",
                       clipThreshold: Int = 15000): Dataset[AudioSignal] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        val bad = (id: Long) => AudioSignal(id, ok = false, 0L, 0L, 0L, 0L, 0L)
        rows.map { case (id, bytes) =>
          if (bytes == null || bytes.length == 0) bad(id)
          else try {
            val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
              new java.io.ByteArrayInputStream(bytes))
            val fmt = ais.getFormat
            val pcm16 =
              fmt.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
                fmt.getSampleSizeInBits == 16 && !fmt.isBigEndian
            if (!pcm16) bad(id)
            else {
              val data = ais.readAllBytes()
              val n = data.length / 2
              var peak = 0L; var ss = 0L; var zc = 0L; var clip = 0L
              // crossings compare against the LAST NON-ZERO sample:
              // +A, 0, -A is one crossing (the conventional
              // definition) — tracking the raw predecessor would let
              // silence between the signs hide it
              var lastNz = 0
              var i = 0
              while (i < n) {
                val s: Int =
                  ((data(2 * i) & 0xFF) | (data(2 * i + 1) << 8)).toShort.toInt
                val a = math.abs(s).toLong
                if (a > peak) peak = a
                ss += a * a
                if (a >= clipThreshold) clip += 1
                if (s != 0) {
                  if (lastNz != 0 && (s < 0) != (lastNz < 0)) zc += 1
                  lastNz = s
                }
                i += 1
              }
              AudioSignal(id, ok = true, n.toLong, peak, ss, zc, clip)
            }
          } catch { case _: Exception => bad(id) }
        }
      }
  }

  /** Square-wave WAV fixtures, every stat a pure function of the id:
    * `n = id%100+20` mono 16-bit 8 kHz samples of amplitude
    * `A = (id·7919)%40000 − 20000` flipping sign every
    * `P = id%7+2` samples. So peak = |A|, sum_sq = n·A²,
    * zero_crossings = (n−1) div P (0 when A = 0), and with threshold
    * T every sample clips iff |A| ≥ T. The audio twin of the
    * [[encodeTestWavs]] constant-amplitude fixture, with enough
    * waveform structure to witness the per-sample loop.
    */
  def encodeTestWavsSquare(df: DataFrame, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long")).as[Long]
      .mapPartitions { ids =>
        val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
        ids.map { id =>
          val frames = (id % 100 + 20).toInt
          val amp = ((id * 7919) % 40000 - 20000).toShort
          val period = (id % 7 + 2).toInt
          val data = new Array[Byte](frames * 2)
          var i = 0
          while (i < frames) {
            val s: Short =
              if ((i / period) % 2 == 0) amp else (-amp).toShort
            data(2 * i) = (s & 0xFF).toByte
            data(2 * i + 1) = ((s >> 8) & 0xFF).toByte
            i += 1
          }
          val ais = new javax.sound.sampled.AudioInputStream(
            new java.io.ByteArrayInputStream(data), fmt, frames.toLong)
          val out = new java.io.ByteArrayOutputStream()
          javax.sound.sampled.AudioSystem.write(ais,
            javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
          (id, out.toByteArray)
        }
      }
      .toDF("media_id", "media")
  }

  /** Deterministic frame sampling plan for video-ish payloads: every
    * `stride`-th offset up to `maxFrames` — the partition/batch shape a
    * real frame sampler would use.
    */
  def frameSamplePlan(df: DataFrame, idCol: String, binCol: String,
                      stride: Int, maxFrames: Int): DataFrame =
    df.select(col(idCol), length(col(binCol)).cast("long").as("n_bytes"))
      .select(col(idCol), col("n_bytes"),
        posexplode(sequence(lit(0L),
          least(col("n_bytes") - 1, lit(stride.toLong * (maxFrames - 1))),
          lit(stride.toLong))))
      .withColumnRenamed("pos", "frame_idx")
      .withColumnRenamed("col", "byte_offset")
}
