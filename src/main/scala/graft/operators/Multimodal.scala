package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: media as opaque `binary` columns with
  * typed metadata, decoded/feature-extracted partition-by-partition.
  *
  * The Spark-side shape is the real thing — schema, encoders, batch
  * iteration, partition sizing. Codecs resolve through the
  * [[MediaCodec]] ServiceLoader SPI, all zero-dependency JDK codecs:
  * still images decode for REAL via [[ImageIoCodecProvider]]
  * (`javax.imageio` — PNG/JPEG/BMP/GIF), PCM-WAV audio via
  * [[WavCodecProvider]] (`javax.sound.sampled`), and multi-frame
  * VIDEO via [[GifVideoCodecProvider]] (animated GIF through the
  * imageio sequence API — real frame counts, per-frame decode). The
  * deterministic [[FakeCodec]] STUB remains only as the unclaimed-kind
  * backstop; containers the JDK has no
  * codec for (mp4/webm — no av libraries here) take a JavaCPP/FFmpeg
  * provider through the same SPI, zero operator changes.
  *
  * Scale design: decode runs inside `mapPartitions` — one codec
  * instance per task, no per-row setup, no driver collect; media bytes
  * stay columnar until the decode boundary; feature vectors (small)
  * are what flows on. Partition sizing for 100 TB of media comes from
  * `spark.sql.files.maxPartitionBytes`, not row counts.
  */
object Multimodal {

  /** A media row: opaque payload + typed metadata. */
  final case class MediaRow(doc_id: Long, kind: String, payload: Array[Byte])

  /** Extracted features: what a real image/audio decode would yield. */
  final case class MediaFeatures(doc_id: Long, kind: String,
      byte_len: Long, width: Int, height: Int, checksum: Long,
      feature: Array[Float])

  /** STUB codec — deterministic fake standing in for a real decoder. */
  object FakeCodec {
    /** "Decode": dims from byte length, checksum = Σ bytes·(i mod 31+1)
      * mod 2³¹−1, feature = 8 byte-histogram buckets normalized. */
    def decode(row: MediaRow): MediaFeatures = {
      val bs = row.payload
      var check = 0L
      val hist = new Array[Long](8)
      var i = 0
      while (i < bs.length) {
        val u = bs(i) & 0xff
        check = (check + u.toLong * (i % 31 + 1)) % TextOps.HashP
        hist(u % 8) += 1
        i += 1
      }
      val n = math.max(bs.length, 1).toFloat
      MediaFeatures(row.doc_id, row.kind, bs.length.toLong,
        width = (bs.length % 640) + 1, height = (bs.length % 480) + 1,
        checksum = check, feature = hist.map(_ / n))
    }
  }

  /** Attach a fake binary payload column to the documents table (the
    * test corpus has no real media; UTF-8 text bytes stand in). */
  def withPayload(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), lit("image/fake").as("kind"),
      encode(col("text"), "UTF-8").as("payload"))

  /** Decode + feature-extract, one codec per partition. Codec choice
    * goes through the [[MediaCodec]] ServiceLoader INSIDE the task —
    * one lookup per kind per task, held across rows (real decoders are
    * stateful and expensive to init). */
  def extractFeatures(media: DataFrame): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      val codecs = scala.collection.mutable.Map.empty[String, MediaCodec]
      rows.map(r =>
        codecs.getOrElseUpdate(r.kind, MediaCodec.forKind(r.kind)).decode(r))
    }
  }

  /** Flat DataFrame view of the features (stable column order; the
    * float feature vector is kept as array<float>). */
  def features(docs: DataFrame): DataFrame =
    extractFeatures(withPayload(docs)).toDF()
      .select(col("doc_id"), col("kind"), col("byte_len"), col("width"),
        col("height"), col("checksum"), col("feature"))
}

/** Decoder SPI: an online build drops a real decoder (javax.imageio,
  * JavaCPP/FFmpeg) on the classpath as a `java.util.ServiceLoader`
  * provider of this trait — registered via a
  * `META-INF/services/graft.operators.MediaCodec` entry, zero operator
  * changes. Providers need a no-arg constructor; resolution happens
  * INSIDE each task (real decoders hold native state and don't
  * serialize), so implementations never cross a closure boundary. */
trait MediaCodec {
  /** MIME-ish kinds this codec handles, e.g. `image/png`. The first
    * provider claiming a kind wins; [[FakeCodecProvider]] backstops
    * every kind no provider claims. */
  def claims(kind: String): Boolean
  def decode(row: Multimodal.MediaRow): Multimodal.MediaFeatures
}

object MediaCodec {
  /** Provider list per classloader. The TASK CONTEXT loader must be
    * preferred: a decoder jar shipped with `--jars` lives in the
    * executor's child URL classloader, which Spark installs as the
    * thread context loader during task execution — resolving against
    * this class's own (possibly system/extraClassPath) loader would
    * never see that jar's `META-INF/services` entry and every image
    * would silently fall back to the fake codec. Keyed per loader (not
    * one per JVM) so a driver-side call and task-side calls each see
    * their own visibility — and WEAKLY keyed: long-lived executors
    * create and discard task/session classloaders (REPL-added jars,
    * session isolation), and a strong key would pin each discarded
    * loader plus its classes for the JVM lifetime. The VALUE must not
    * strongly reach the key either — provider instances reference
    * their classes, which reference the loader — so the provider list
    * sits behind a SoftReference: in steady state the cache stays
    * warm, and once a loader is discarded the only paths to it are the
    * weak key and the soft value chain, both collectable. WeakHashMap
    * needs external synchronization; the lock is only on the
    * once-per-loader lookup path, never per row
    * ([[Multimodal.extractFeatures]] holds codecs per task). */
  private val providersByLoader = new java.util.WeakHashMap[
    ClassLoader, java.lang.ref.SoftReference[Seq[MediaCodec]]]

  private def providers(): Seq[MediaCodec] = {
    val loader = Option(Thread.currentThread().getContextClassLoader)
      .getOrElse(classOf[MediaCodec].getClassLoader)
    providersByLoader.synchronized {
      val cached = Option(providersByLoader.get(loader)).flatMap(r =>
        Option(r.get()))
      cached.getOrElse {
        import scala.jdk.CollectionConverters._
        val ps = java.util.ServiceLoader.load(classOf[MediaCodec], loader)
          .iterator().asScala.toSeq
        providersByLoader.put(loader,
          new java.lang.ref.SoftReference(ps))
        ps
      }
    }
  }

  /** Resolve the codec for `kind`: registered providers in discovery
    * order, [[FakeCodecProvider]] as the guaranteed sandbox fallback. */
  def forKind(kind: String): MediaCodec =
    providers().find(_.claims(kind)).getOrElse(FakeCodecProvider)
}

/** REAL still-image decoder on the SPI — `javax.imageio` is JDK
  * built-in (the PNG render sink already uses it), so PNG/JPEG/BMP/GIF
  * decode needs zero new dependencies; only audio/video stay with the
  * fake codec in this container. Claims the standard image MIME kinds
  * (parameters after `;` ignored) and NEVER `image/fake` — the oracle
  * fixtures' payloads are fake-kind text bytes and keep their
  * byte-level decode.
  *
  * Decode contract (all deterministic): real pixel `width`/`height`;
  * `checksum` = CRC32 of the payload bytes; `feature` = 8-bin
  * luminance histogram (integer 299/587/114 weights) normalized by
  * pixel count. A payload ImageIO cannot parse — a truncated file,
  * say — yields the CORRUPT marker: width = height = 0, zero feature
  * vector, checksum still computed, so a 100 TB curation scan can
  * count/quarantine bad media without a task ever throwing. One
  * provider instance per task via [[MediaCodec.forKind]]; `ImageIO.read`
  * allocates per call and holds no shared native state. */
class ImageIoCodecProvider extends MediaCodec {
  override def claims(kind: String): Boolean = {
    val base = kind.takeWhile(_ != ';')
    base == "image/png" || base == "image/jpeg" || base == "image/jpg" ||
      base == "image/bmp" || base == "image/gif"
  }

  override def decode(row: Multimodal.MediaRow): Multimodal.MediaFeatures = {
    val crc = new java.util.zip.CRC32
    crc.update(row.payload)
    val img =
      try ImageIoCodecProvider.read(row.payload)
      catch { case scala.util.control.NonFatal(_) => null }
    if (img == null)
      Multimodal.MediaFeatures(row.doc_id, row.kind,
        row.payload.length.toLong, width = 0, height = 0,
        checksum = crc.getValue, feature = new Array[Float](8))
    else {
      val w = img.getWidth
      val h = img.getHeight
      val hist = new Array[Long](8)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          val lum = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
            (rgb & 0xff) * 114) / 1000
          hist(lum >> 5) += 1
          x += 1
        }
        y += 1
      }
      val n = (w.toLong * h).toFloat
      Multimodal.MediaFeatures(row.doc_id, row.kind,
        row.payload.length.toLong, width = w, height = h,
        checksum = crc.getValue, feature = hist.map(_ / n))
    }
  }
}

object ImageIoCodecProvider {
  private def read(bytes: Array[Byte]): java.awt.image.BufferedImage =
    javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
}

/** REAL PCM-WAV decoder on the SPI — `javax.sound.sampled` is JDK
  * built-in like `javax.imageio`, so RIFF/WAV audio decode also needs
  * zero new dependencies. Claims the standard WAV MIME kinds and
  * never `audio/fake`.
  *
  * Decode contract (all deterministic, mirroring
  * [[ImageIoCodecProvider]]'s): the image-shaped dims carry the
  * audio geometry — `width` = channels, `height` = sample rate (Hz);
  * `checksum` = CRC32 of the payload bytes; `feature` = 8-bin
  * amplitude histogram (|16-bit sample| quantized by 4096) normalized
  * by sample count — a loudness profile, the audio analogue of the
  * luminance histogram. PCM 8-bit (unsigned) and 16-bit (signed,
  * either endianness) are decoded; anything AudioSystem cannot parse
  * or a non-PCM encoding yields the CORRUPT marker (0×0 dims, zero
  * features, checksum still computed) so a curation scan quarantines
  * bad media without task failures. */
class WavCodecProvider extends MediaCodec {
  override def claims(kind: String): Boolean = {
    val base = kind.takeWhile(_ != ';')
    base == "audio/wav" || base == "audio/x-wav" || base == "audio/wave"
  }

  override def decode(row: Multimodal.MediaRow): Multimodal.MediaFeatures = {
    val crc = new java.util.zip.CRC32
    crc.update(row.payload)
    def corrupt = Multimodal.MediaFeatures(row.doc_id, row.kind,
      row.payload.length.toLong, width = 0, height = 0,
      checksum = crc.getValue, feature = new Array[Float](8))
    try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(row.payload))
      try {
        val f = in.getFormat
        val enc = f.getEncoding
        val pcmSigned =
          enc == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED
        val pcmUnsigned =
          enc == javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED
        val bits = f.getSampleSizeInBits
        if (!(pcmSigned && bits == 16) && !(pcmUnsigned && bits == 8))
          corrupt
        else {
          val bytes = in.readAllBytes()
          val hist = new Array[Long](8)
          var n = 0L
          if (bits == 8) {
            var i = 0
            while (i < bytes.length) {
              val amp = math.abs((bytes(i) & 0xff) - 128) << 8 // → 16-bit scale
              hist(math.min(7, amp >> 12)) += 1
              n += 1
              i += 1
            }
          } else {
            val big = f.isBigEndian
            var i = 0
            while (i + 1 < bytes.length) {
              val s =
                if (big) (bytes(i) << 8) | (bytes(i + 1) & 0xff)
                else (bytes(i + 1) << 8) | (bytes(i) & 0xff)
              // |−32768| saturates to 32767 so the bin index stays < 8
              val amp = math.min(math.abs(s), 32767)
              hist(amp >> 12) += 1
              n += 1
              i += 2
            }
          }
          if (n == 0) corrupt
          else Multimodal.MediaFeatures(row.doc_id, row.kind,
            row.payload.length.toLong,
            width = f.getChannels, height = f.getSampleRate.toInt,
            checksum = crc.getValue,
            feature = hist.map(_ / n.toFloat))
        }
      } finally in.close()
    } catch { case scala.util.control.NonFatal(_) => corrupt }
  }
}

/** REAL multi-frame VIDEO decoder on the SPI — animated GIF through
  * JDK `javax.imageio`, whose GIF plugin reads every frame of a
  * sequence (`getNumImages(true)` / `read(i)`), so the video path —
  * container parse, frame count, per-frame decode — runs for real
  * with zero new dependencies. GIF is the one multi-frame container
  * the JDK ships a codec for; an FFmpeg provider for mp4/webm drops
  * in through the same SPI, zero operator changes. Claims the
  * `video/gif` kind (the sandbox convention for "animated GIF treated
  * as video"); plain `image/gif` stills keep routing to
  * [[ImageIoCodecProvider]].
  *
  * Decode contract (all deterministic): [[decode]] aggregates the
  * WHOLE animation — first-frame width/height, CRC32 of the payload
  * bytes, 8-bin luminance histogram summed over every frame's pixels
  * and normalized by total pixel count. Unparseable payloads yield
  * the CORRUPT marker — a curation scan quarantines bad media without
  * task failures. */
class GifVideoCodecProvider extends MediaCodec {
  override def claims(kind: String): Boolean =
    kind.takeWhile(_ != ';') == "video/gif"

  override def decode(row: Multimodal.MediaRow): Multimodal.MediaFeatures = {
    val crc = new java.util.zip.CRC32
    crc.update(row.payload)
    GifVideoCodecProvider.withReader(row.payload) { (reader, nFrames) =>
      val hist = new Array[Long](8)
      var pixels = 0L
      var w0 = 0
      var h0 = 0
      var f = 0
      while (f < nFrames) {
        val img = reader.read(f)
        if (f == 0) { w0 = img.getWidth; h0 = img.getHeight }
        var y = 0
        while (y < img.getHeight) {
          var x = 0
          while (x < img.getWidth) {
            hist(GifVideoCodecProvider.lumBin(img.getRGB(x, y))) += 1
            x += 1
          }
          y += 1
        }
        pixels += img.getWidth.toLong * img.getHeight
        f += 1
      }
      Multimodal.MediaFeatures(row.doc_id, row.kind,
        row.payload.length.toLong, width = w0, height = h0,
        checksum = crc.getValue,
        feature = hist.map(_ / math.max(pixels, 1L).toFloat))
    }.getOrElse(Multimodal.MediaFeatures(row.doc_id, row.kind,
      row.payload.length.toLong, width = 0, height = 0,
      checksum = crc.getValue, feature = new Array[Float](8)))
  }

}

object GifVideoCodecProvider {
  private def lumBin(rgb: Int): Int =
    ((((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
      (rgb & 0xff) * 114) / 1000) >> 5

  /** Run `body` with a positioned GIF reader and the true frame count;
    * None when the payload is unparseable or has no frames. The reader
    * and its stream are task-local and closed before return. */
  private def withReader[A](bytes: Array[Byte])(
      body: (javax.imageio.ImageReader, Int) => A): Option[A] =
    try {
      val stream = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(stream)
        if (!readers.hasNext) None
        else {
          val reader = readers.next()
          try {
            reader.setInput(stream)
            val n = reader.getNumImages(true)
            if (n <= 0) None else Some(body(reader, n))
          } finally reader.dispose()
        }
      } finally stream.close()
    } catch { case scala.util.control.NonFatal(_) => None }
}

/** [[Multimodal.FakeCodec]] as a ServiceLoader provider (also the hard
  * fallback when no provider claims a kind — the sandbox default). */
class FakeCodecProvider extends MediaCodec {
  override def claims(kind: String): Boolean =
    kind.startsWith("image/fake")
  override def decode(row: Multimodal.MediaRow): Multimodal.MediaFeatures =
    Multimodal.FakeCodec.decode(row)
}

/** Singleton fallback instance (class form above is what ServiceLoader
  * instantiates). */
object FakeCodecProvider extends FakeCodecProvider
