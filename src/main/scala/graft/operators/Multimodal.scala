package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing — training-data pipeline surface.
  *
  * Images / audio / video ride through the engine as opaque `binary`
  * columns with a typed metadata struct; decode / feature-extract /
  * resize / frame-sample are per-row transformations. The REAL Spark
  * decisions — schema, batch shape, partition sizing so one partition of
  * blobs fits executor memory, and keeping blob bytes OUT of shuffles
  * (operate, then project metadata before any wide stage) — are all here
  * and tested. Image decode is REAL ([[ImageIoCodec]], `javax.imageio`
  * from the JDK — header-only width/height/channels for PNG/JPEG/GIF/BMP,
  * gated against generated PNG fixtures by q_multimodal_decode); formats
  * the JDK cannot read fall back to the deterministic [[StubCodec]]
  * arithmetic, and a video/audio decoder swaps in behind the same
  * [[BlobCodec]] seam inside `mapPartitions` without touching any schema
  * or caller.
  */
object Multimodal {

  /** Wrap a corpus into the multimodal shape: (id, blob binary, meta
    * struct). Here the blob is the UTF-8 of the text column — stand-in for
    * real image bytes with identical plumbing. */
  def asBlobTable(docs: DataFrame, id: String, payload: String): DataFrame =
    docs.select(col(id).as("id"),
      col(payload).cast("binary").as("blob"),
      struct(
        length(col(payload).cast("binary")).cast("long").as("n_bytes"),
        sha2(col(payload).cast("binary"), 256).as("sha256"),
        lit("application/octet-stream").as("mime")).as("meta"))

  /** STUB decoder: derives fake image dimensions deterministically from
    * the byte length. A real decoder replaces exactly this expression with
    * a per-partition codec call; every downstream column is unchanged. */
  def decodeStub(blob: Column): Column = {
    val n = length(blob).cast("long")
    struct(
      (lit(64L) + pmod(n, lit(577L))).as("width"),
      (lit(64L) + pmod(n, lit(417L))).as("height"),
      lit(3L).as("channels"),
      (lit(1L) + pmod(n, lit(30L))).as("n_frames"))
  }

  /** Decode + resize metadata: clamp the longer side to `maxSide`
    * preserving aspect ratio (integer math, deterministic). */
  def withDecodedMeta(blobs: DataFrame, maxSide: Int = 224): DataFrame = {
    val d = decodeStub(col("blob"))
    blobs.withColumn("decoded", d)
      .withColumn("resize_scale",
        least(lit(1.0),
          lit(maxSide.toDouble) /
            greatest(col("decoded.width"), col("decoded.height"))))
      .withColumn("out_width",
        floor(col("decoded.width") * col("resize_scale")).cast("long"))
      .withColumn("out_height",
        floor(col("decoded.height") * col("resize_scale")).cast("long"))
  }

  /** Frame sampling: `k` evenly-spaced byte slices of the blob (stand-in
    * for video frame extraction; same explode shape a real sampler has —
    * one output row per frame, blob bytes never shuffled because the slice
    * happens before the explode projects them away). */
  def sampleFrames(blobs: DataFrame, k: Int, frameBytes: Int = 16)
      : DataFrame =
    blobs.where(col("meta.n_bytes") >= frameBytes)
      .select(col("id"), col("blob"),
        explode(expr(
          s"""transform(sequence(0, ${k - 1}), f -> named_struct(
             |  'frame', CAST(f AS BIGINT),
             |  'offset', CAST(f * ((meta.n_bytes - $frameBytes)
             |     DIV ${math.max(k - 1, 1)}) AS BIGINT)))""".stripMargin))
          .as("fr"))
      .select(col("id"), col("fr.frame").as("frame"),
        col("fr.offset").as("offset"),
        expr(s"sha2(substring(blob, CAST(fr.offset + 1 AS INT), $frameBytes)"
          + ", 256)").as("frame_sha256"))

  final case class Decoded(id: Long, width: Long, height: Long,
                           channels: Long, n_frames: Long)

  /** The codec seam for [[decodePartitioned]]: ONE instance per
    * partition, so a decoder's expensive init (reader lookup, JNI/FFI
    * library load, GPU context) is paid partitions-times, not
    * rows-times. Implementations return (width, height, channels,
    * n_frames). */
  trait BlobCodec extends Serializable {
    def decode(blob: Array[Byte]): (Long, Long, Long, Long)
  }

  /** Deterministic fake reproducing [[decodeStub]]'s arithmetic exactly,
    * so the expression path and the partition path are testable against
    * each other — and the fallback for formats [[ImageIoCodec]] cannot
    * read. */
  class StubCodec extends BlobCodec {
    def decode(blob: Array[Byte]): (Long, Long, Long, Long) = {
      val n = blob.length.toLong
      (64L + n % 577L, 64L + n % 417L, 3L, 1L + n % 30L)
    }
  }

  /** REAL image decode via `javax.imageio` (in the JDK — zero new
    * dependencies): PNG / JPEG / GIF / BMP headers are read through the
    * registered `ImageReader`s. Width/height come from the header
    * (`reader.getWidth(0)`), NOT a full pixel decode — the scalable path
    * for metadata extraction over binary columns; channels from the
    * declared image type; n_frames from `getNumImages` (multi-frame
    * GIFs). Blobs no reader recognizes (the magic bytes match no
    * registered format) fall back to [[StubCodec]]'s arithmetic, keeping
    * the seam total. `ImageIO.setUseCache(false)` keeps the readers
    * in-memory — no per-row temp files on executors. */
  class ImageIoCodec extends BlobCodec {
    import javax.imageio.ImageIO
    ImageIO.setUseCache(false)
    private val stub = new StubCodec

    def decode(blob: Array[Byte]): (Long, Long, Long, Long) = {
      val iis = ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(blob))
      try {
        val readers = ImageIO.getImageReaders(iis)
        if (!readers.hasNext) stub.decode(blob)
        else {
          val r = readers.next()
          try {
            r.setInput(iis)
            val channels = {
              val types = r.getImageTypes(0)
              if (types.hasNext) types.next().getNumBands.toLong else 3L
            }
            val frames = try {
              val n = r.getNumImages(true)
              if (n > 0) n.toLong else 1L
            } catch { case _: java.io.IOException => 1L }
            (r.getWidth(0).toLong, r.getHeight(0).toLong, channels, frames)
          } finally r.dispose()
        }
      } catch {
        case _: java.io.IOException => stub.decode(blob)
      } finally iis.close()
    }
  }

  /** REAL audio header decode via `javax.sound.sampled` (in the JDK —
    * zero new dependencies): WAV / AIFF / AU headers are read through
    * `AudioSystem.getAudioFileFormat`, which parses the container header
    * only — never the sample data — the scalable path for audio metadata
    * over binary columns. The [[BlobCodec]] quad maps to audio as
    * (sample_rate, bits_per_sample, channels, n_frames); blobs no
    * provider recognizes fall back to [[StubCodec]]'s arithmetic,
    * keeping the seam total. Stream-marked so the format reader never
    * copies the byte array. */
  class WavCodec extends BlobCodec {
    private val stub = new StubCodec

    def decode(blob: Array[Byte]): (Long, Long, Long, Long) = {
      try {
        val fmt = javax.sound.sampled.AudioSystem.getAudioFileFormat(
          new java.io.ByteArrayInputStream(blob))
        val af = fmt.getFormat
        // some valid AU/streamed-AIFF headers omit the frame count or
        // rate (AudioSystem.NOT_SPECIFIED = -1); a negative dimension is
        // "header didn't say", not a decode — fall back to the stub
        // rather than emit n_frames = -1
        if (fmt.getFrameLength < 0 || af.getSampleRate <= 0 ||
            af.getSampleSizeInBits < 0 || af.getChannels < 0)
          stub.decode(blob)
        else (af.getSampleRate.round.toLong,
          af.getSampleSizeInBits.toLong,
          af.getChannels.toLong,
          fmt.getFrameLength.toLong)
      } catch {
        case _: javax.sound.sampled.UnsupportedAudioFileException =>
          stub.decode(blob)
        case _: java.io.IOException => stub.decode(blob)
      }
    }
  }

  /** REAL video container header decode — an MP4/ISO-BMFF box walk in
    * ~60 lines of pure-JDK byte reading (ISO/IEC 14496-12's published
    * layout: length-prefixed boxes; `moov` holds the movie header
    * `mvhd` — timescale + duration, version 0 or 1 — and one `trak` box
    * per track). Header-only by construction: the walk skips `mdat`
    * (the sample payload) entirely via its length prefix, so cost is
    * independent of video size — the scalable path for video metadata
    * over binary columns. The [[BlobCodec]] quad maps to video as
    * (timescale, duration, n_tracks, duration_ms) with duration_ms =
    * duration·1000/timescale in integer floor arithmetic. Blobs that are
    * not ISO-BMFF (no parseable moov/mvhd) fall back to [[StubCodec]],
    * keeping the seam total. */
  class Mp4Codec extends BlobCodec {
    private val stub = new StubCodec
    private def u32(b: Array[Byte], o: Int): Long =
      ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
        ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)
    private def u64(b: Array[Byte], o: Int): Long = {
      var v = 0L; var i = 0
      while (i < 8) { v = (v << 8) | (b(o + i) & 0xffL); i += 1 }
      v
    }
    def decode(blob: Array[Byte]): (Long, Long, Long, Long) = {
      try {
        val len = blob.length
        var off = 0
        while (off + 8 <= len) {
          val size0 = u32(blob, off)
          val tpe = new String(blob, off + 4, 4, "ISO-8859-1")
          // size==1 → 64-bit extended size follows; size==0 → to EOF
          val (hdr, size) =
            if (size0 == 1 && off + 16 <= len) (16, u64(blob, off + 8))
            else (8, if (size0 == 0) (len - off).toLong else size0)
          if (size < hdr || off + size > len) return stub.decode(blob)
          if (tpe == "moov") {
            var timescale = -1L; var duration = -1L; var nTracks = 0L
            var c = off + hdr
            val end = off + size.toInt
            while (c + 8 <= end) {
              val cs0 = u32(blob, c)
              val ct = new String(blob, c + 4, 4, "ISO-8859-1")
              val (chdr, cs) =
                if (cs0 == 1 && c + 16 <= end) (16, u64(blob, c + 8))
                else (8, if (cs0 == 0) (end - c).toLong else cs0)
              if (cs < chdr || c + cs > end) return stub.decode(blob)
              if (ct == "trak") nTracks += 1
              else if (ct == "mvhd" && c + chdr < end) {
                val p = c + chdr // fullbox: version(1) + flags(3) first
                blob(p) match {
                  case 0 if cs >= chdr + 20 => // v0: 4-byte times
                    timescale = u32(blob, p + 12)
                    duration = u32(blob, p + 16)
                  case 1 if cs >= chdr + 32 => // v1: 8-byte times
                    timescale = u32(blob, p + 20)
                    duration = u64(blob, p + 24)
                  case _ => return stub.decode(blob)
                }
              }
              c += cs.toInt
            }
            return if (timescale > 0 && duration >= 0)
              (timescale, duration, nTracks, duration * 1000L / timescale)
            else stub.decode(blob)
          }
          off += size.toInt
        }
        stub.decode(blob) // no moov box — not a (complete) MP4
      } catch {
        case scala.util.control.NonFatal(_) => stub.decode(blob)
      }
    }
  }

  /** Deterministic MP4 fixture table: one minimal REAL ISO-BMFF
    * container per input id — `ftyp` + `moov(mvhd + trak×k)` with
    * timescale `600·(1 + id mod 4)`, duration `300·(1 + id mod 50)`,
    * and `1 + id mod 3` tracks — written per partition as raw
    * big-endian boxes (the published layout; no codec library exists in
    * the JDK to do it for us, which is the point: the bytes are genuine
    * boxes only a real box parser can read, while the dims are pure id
    * arithmetic any SQL engine can predict). Video twin of
    * [[syntheticPngTable]] / [[syntheticWavTable]]. */
  def syntheticMp4Table(ids: DataFrame, id: String): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    ids.select(col(id).cast("long")).as[Long].mapPartitions { it =>
      def box(tpe: String, payload: Array[Byte]): Array[Byte] = {
        val out = java.nio.ByteBuffer.allocate(8 + payload.length)
        out.putInt(8 + payload.length)
        out.put(tpe.getBytes("ISO-8859-1"))
        out.put(payload)
        out.array()
      }
      val unityMatrix = {
        val m = java.nio.ByteBuffer.allocate(36)
        m.putInt(0x00010000).putInt(0).putInt(0)
        m.putInt(0).putInt(0x00010000).putInt(0)
        m.putInt(0).putInt(0).putInt(0x40000000)
        m.array()
      }
      it.map { i =>
        val timescale = (600 * (1 + math.floorMod(i, 4L))).toInt
        val duration = (300 * (1 + math.floorMod(i, 50L))).toInt
        val nTracks = (1 + math.floorMod(i, 3L)).toInt
        val mvhd = {
          val p = java.nio.ByteBuffer.allocate(100)
          p.putInt(0) // version 0 + flags
          p.putInt(0).putInt(0) // creation, modification
          p.putInt(timescale).putInt(duration)
          p.putInt(0x00010000) // rate 1.0 (16.16)
          p.putShort(0x0100.toShort) // volume 1.0 (8.8)
          p.putShort(0).putLong(0L) // reserved
          p.put(unityMatrix)
          p.put(new Array[Byte](24)) // pre_defined
          p.putInt(nTracks + 1) // next_track_ID
          box("mvhd", p.array())
        }
        val traks = (1 to nTracks).map { k =>
          val p = java.nio.ByteBuffer.allocate(84)
          p.putInt(7) // version 0, flags: enabled|in-movie|in-preview
          p.putInt(0).putInt(0) // creation, modification
          p.putInt(k) // track_ID
          p.putInt(0) // reserved
          p.putInt(duration)
          p.putLong(0L) // reserved
          p.putShort(0).putShort(0).putShort(0).putShort(0)
          p.put(unityMatrix)
          p.putInt(320 << 16).putInt(240 << 16) // width/height 16.16
          box("trak", box("tkhd", p.array()))
        }
        val ftyp = {
          val p = java.nio.ByteBuffer.allocate(8)
          p.put("isom".getBytes("ISO-8859-1")).putInt(0)
          box("ftyp", p.array())
        }
        val moov = box("moov",
          (mvhd +: traks).reduce(_ ++ _))
        (i, ftyp ++ moov)
      }
    }.toDF("id", "blob")
  }

  /** Deterministic WAV fixture table: one REAL 16-bit PCM WAV per input
    * id — `8000 + 1000·(id mod 8)` Hz, `1 + id mod 2` channels,
    * `128 + id mod 256` frames — encoded per partition with
    * `javax.sound.sampled`. The audio twin of [[syntheticPngTable]]:
    * dims are pure id arithmetic any SQL engine can predict, while the
    * bytes are genuine RIFF/WAVE containers only a real audio stack can
    * read. */
  def syntheticWavTable(ids: DataFrame, id: String): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    ids.select(col(id).cast("long")).as[Long].mapPartitions { it =>
      it.map { i =>
        val rate = (8000 + 1000 * math.floorMod(i, 8L)).toInt
        val channels = (1 + math.floorMod(i, 2L)).toInt
        val frames = (128 + math.floorMod(i, 256L)).toInt
        val fmt = new javax.sound.sampled.AudioFormat(
          rate.toFloat, 16, channels, true, false)
        val pcm = new Array[Byte](frames * fmt.getFrameSize)
        var j = 0
        while (j < pcm.length) { // deterministic non-silent content
          pcm(j) = ((i + j) % 251).toByte
          j += 1
        }
        val ais = new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong)
        val bos = new java.io.ByteArrayOutputStream()
        javax.sound.sampled.AudioSystem.write(ais,
          javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
        (i, bos.toByteArray)
      }
    }.toDF("id", "blob")
  }

  /** Deterministic PNG fixture table: one REAL `(64 + id mod 97) ×
    * (64 + id mod 53)` 3-channel PNG per input id, encoded per partition
    * with `javax.imageio`. Exists so the real-decode path has an
    * oracle-checkable gate: the decoded dimensions are pure id
    * arithmetic any SQL engine can predict, while the bytes themselves
    * are genuine PNGs only a real codec can read. */
  def syntheticPngTable(ids: DataFrame, id: String): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    ids.select(col(id).cast("long")).as[Long].mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.map { i =>
        val w = (64 + math.floorMod(i, 97L)).toInt
        val h = (64 + math.floorMod(i, 53L)).toInt
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
        // cheap deterministic content so the PNGs are not all-black
        img.setRGB(math.floorMod(i, w.toLong).toInt,
          math.floorMod(i, h.toLong).toInt, 0xffffff)
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        (i, bos.toByteArray)
      }
    }.toDF("id", "blob")
  }

  /** Per-partition decode path (the brief's `mapInPandas` shape in its
    * Scala form): iterator-in/iterator-out `mapPartitions`, so rows
    * stream through the codec without materializing a partition, and the
    * blob bytes are projected away in the SAME stage — nothing wide ever
    * carries them. Schema and row shape are identical to consuming
    * [[withDecodedMeta]]'s `decoded` struct. Default codec is the REAL
    * [[ImageIoCodec]] (header-only javax.imageio decode with stub
    * fallback for unrecognized formats). */
  def decodePartitioned(blobs: DataFrame,
                        codec: () => BlobCodec = () => new ImageIoCodec)
      : DataFrame = {
    val spark = blobs.sparkSession
    import spark.implicits._
    blobs.select(col("id"), col("blob")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val c = codec() // per-partition init point
        it.map { case (id, b) =>
          val (w, h, ch, f) = c.decode(b)
          Decoded(id, w, h, ch, f)
        }
      }
      .toDF()
  }
}
