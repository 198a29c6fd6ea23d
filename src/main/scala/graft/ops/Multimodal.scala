package graft.ops

import graft.Tables
import graft.functions.fasthash
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal column surface (north-star block): image/audio/video as
  * opaque BINARY columns + typed metadata, with decode / feature-extract /
  * resize / frame-sample stages.
  *
  * The Spark-side plumbing is real — schema, partition-preserving batch
  * processing via mapPartitions over a typed Dataset, deterministic
  * outputs, and a metadata struct the optimizer can prune independently of
  * the payload. Decode is REAL for two of the three modalities:
  *
  *  - '''image''': payloads are genuine PNGs (synthesized per row with
  *    `javax.imageio` over a deterministic raster) and decode reads the
  *    true dimensions back out of the codec — end-to-end honest.
  *  - '''audio''': payloads are genuine 16-bit PCM WAVs (RIFF header +
  *    deterministic samples) and decode recovers sample rate and frame
  *    count via `javax.sound.sampled`.
  *  - '''video''': the JDK ships no video container parser, so the payload
  *    stays an opaque deterministic blob and the decode step is a
  *    clearly-marked STUB (dims/rate 0; frame sampling runs on the
  *    declared n_frames metadata). Swapping in a real demuxer changes one
  *    case arm, not the plan.
  *
  * Scale notes: payloads stay in executor memory one partition batch at a
  * time (mapPartitions = the Scala analog of mapInPandas batch iteration);
  * metadata-only queries never touch the payload column thanks to parquet
  * column pruning — the plan for `select(meta.*)` must not read `payload`.
  */
object Multimodal {

  /** One media row: payload + typed metadata (the schema a 100 TB media
    * lake would carry per blob). */
  final case class MediaRow(media_id: Long, kind: String, payload: Array[Byte],
      width: Int, height: Int, sample_rate: Int, n_frames: Int)

  /** Extracted features per media row (decode output). */
  final case class MediaFeatures(media_id: Long, kind: String, n_bytes: Long,
      sha_like: Long, mean_byte: Double, decoded_width: Int, decoded_height: Int,
      decoded_sample_rate: Int, decoded_audio_frames: Long,
      thumb_width: Int, thumb_height: Int, sampled_frames: Seq[Int])

  /** Real codecs (JDK-only, no extra dependencies) + the one remaining
    * stub (video). Synthesis is deterministic per (id, params) so every
    * run of the pipeline sees identical payloads. */
  object Codecs {
    // ImageIO's default ImageInputStream cache is DISK-backed: every
    // ImageIO.read/write over a byte-array stream creates (and deletes) a
    // temp file. The codec pipelines here run per ROW, so that is 3 temp
    // files per image row and a filesystem round-trip the hash never needs.
    // The memory cache is semantically identical (same bytes, same codec
    // path) and measured 2.4x faster per row at 32 threads (r13 probe:
    // 0.073 -> 0.031 ms/row-core).
    javax.imageio.ImageIO.setUseCache(false)

    /** Synthesize a real PNG: deterministic RGB raster, encoded through
      * javax.imageio. Decoding it recovers exactly (w, h). */
    def synthesizePng(id: Long, w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val px = new Array[Int](w * h)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val v = fasthash.splitmix64(id ^ (x * 2654435761L) ^ (y * 40503L))
          px(y * w + x) = (v & 0xFFFFFFL).toInt
          x += 1
        }
        y += 1
      }
      img.setRGB(0, 0, w, h, px, 0, w)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }

    /** REAL image decode: true dimensions out of the PNG codec.
      * (0, 0) for bytes no installed reader accepts. */
    def decodeImageDims(payload: Array[Byte]): (Int, Int) = {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      if (img == null) (0, 0) else (img.getWidth, img.getHeight)
    }

    /** Synthesize a real RIFF/WAVE payload: 16-bit mono PCM, deterministic
      * samples. 44-byte canonical header + data chunk. */
    def synthesizeWav(id: Long, sampleRate: Int, nSamples: Int): Array[Byte] = {
      val dataLen = nSamples * 2
      val buf = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
        .put("WAVE".getBytes("US-ASCII"))
      buf.put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(1) // PCM, mono
        .putInt(sampleRate).putInt(sampleRate * 2) // byte rate
        .putShort(2).putShort(16) // block align, bits/sample
      buf.put("data".getBytes("US-ASCII")).putInt(dataLen)
      var i = 0
      var s = id
      while (i < nSamples) {
        s = fasthash.splitmix64(s)
        buf.putShort((s & 0xFFFFL).toShort)
        i += 1
      }
      buf.array()
    }

    /** REAL audio decode: (sample rate, frame count) via
      * javax.sound.sampled. (0, 0) for unparseable bytes. */
    def decodeAudio(payload: Array[Byte]): (Int, Long) = {
      try {
        val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(payload))
        try ((in.getFormat.getSampleRate.toInt, in.getFrameLength))
        finally in.close()
      } catch { case _: Exception => (0, 0L) }
    }

    /** Synthesize a real uncompressed AVI (RIFF 'AVI ': hdrl/avih + one
      * 'vids'/DIB stream + movi with bottom-up 24-bit DIB frames, rows
      * padded to 4 bytes — the same RIFF family as synthesizeWav). The
      * container carries true (w, h) in the avih header, so decode is
      * verifiable against metadata like the PNG/WAV paths. */
    def synthesizeAvi(id: Long, w: Int, h: Int, nFrames: Int = 2): Array[Byte] = {
      val rowLen = ((w * 3 + 3) / 4) * 4
      val frameLen = rowLen * h
      // frame content: one continuous splitmix64 byte stream across all
      // frames (byte-identical to the original inline writer)
      var s = id
      val frames = Seq.fill(nFrames) {
        val fb = new Array[Byte](frameLen)
        var i = 0
        while (i < frameLen) {
          s = fasthash.splitmix64(s)
          fb(i) = (s & 0xFF).toByte
          i += 1
        }
        fb
      }
      aviFromFrames(w, h, frames)
    }

    /** Wrap caller-supplied bottom-up DIB frame rasters in the
      * uncompressed-AVI container (the [[synthesizeAvi]] writer factored
      * over frame content — q267 re-encodes decoded frame subsets through
      * it). Every frame must be rowLen·h bytes for the declared dims. */
    def aviFromFrames(w: Int, h: Int, frames: Seq[Array[Byte]]): Array[Byte] = {
      val rowLen = ((w * 3 + 3) / 4) * 4
      val frameLen = rowLen * h
      val nFrames = frames.length
      val avihLen = 56
      val strhLen = 56
      val strfLen = 40
      val strlLen = 4 + (8 + strhLen) + (8 + strfLen)
      val hdrlLen = 4 + (8 + avihLen) + (8 + strlLen)
      val moviLen = 4 + nFrames * (8 + frameLen)
      val riffLen = 4 + (8 + hdrlLen) + (8 + moviLen)
      val buf = java.nio.ByteBuffer.allocate(8 + riffLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      def fcc(s: String): Unit = buf.put(s.getBytes("US-ASCII"))
      fcc("RIFF"); buf.putInt(riffLen); fcc("AVI ")
      fcc("LIST"); buf.putInt(hdrlLen); fcc("hdrl")
      fcc("avih"); buf.putInt(avihLen)
      buf.putInt(40000)            // dwMicroSecPerFrame (25 fps)
      buf.putInt(frameLen * 25)    // dwMaxBytesPerSec
      buf.putInt(0)                // dwPaddingGranularity
      buf.putInt(0)                // dwFlags (no index)
      buf.putInt(nFrames)          // dwTotalFrames
      buf.putInt(0)                // dwInitialFrames
      buf.putInt(1)                // dwStreams
      buf.putInt(frameLen)         // dwSuggestedBufferSize
      buf.putInt(w); buf.putInt(h) // dwWidth, dwHeight
      buf.putInt(0); buf.putInt(0); buf.putInt(0); buf.putInt(0) // reserved
      fcc("LIST"); buf.putInt(strlLen); fcc("strl")
      fcc("strh"); buf.putInt(strhLen)
      fcc("vids"); fcc("DIB ")
      buf.putInt(0)                       // dwFlags
      buf.putShort(0); buf.putShort(0)    // priority, language
      buf.putInt(0)                       // dwInitialFrames
      buf.putInt(1); buf.putInt(25)       // dwScale, dwRate
      buf.putInt(0)                       // dwStart
      buf.putInt(nFrames)                 // dwLength
      buf.putInt(frameLen)                // dwSuggestedBufferSize
      buf.putInt(-1)                      // dwQuality
      buf.putInt(frameLen)                // dwSampleSize
      buf.putShort(0); buf.putShort(0)    // rcFrame left, top
      buf.putShort(w.toShort); buf.putShort(h.toShort)
      fcc("strf"); buf.putInt(strfLen)
      buf.putInt(40)                      // biSize
      buf.putInt(w); buf.putInt(h)        // biWidth, biHeight (bottom-up)
      buf.putShort(1); buf.putShort(24)   // biPlanes, biBitCount
      buf.putInt(0)                       // biCompression = BI_RGB
      buf.putInt(frameLen)                // biSizeImage
      buf.putInt(0); buf.putInt(0); buf.putInt(0); buf.putInt(0)
      fcc("LIST"); buf.putInt(moviLen); fcc("movi")
      frames.foreach { fb =>
        require(fb.length == frameLen,
          s"frame raster ${fb.length} bytes, want $frameLen for ${w}x$h")
        fcc("00db"); buf.putInt(frameLen)
        buf.put(fb)
      }
      buf.array()
    }

    /** REAL video metadata decode: hand-parsed RIFF/AVI chunk walk to the
      * avih header's (dwWidth, dwHeight) — a published container layout
      * (no JDK demuxer exists; full frame decode would be the ffmpeg/JNI
      * swap-in, but the metadata round-trip is honest). (0, 0) for bytes
      * that aren't a well-formed AVI. */
    def decodeVideo(payload: Array[Byte]): (Int, Int) = {
      try {
        val bb = java.nio.ByteBuffer.wrap(payload)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        def fourcc(off: Int): String = new String(payload, off, 4, "US-ASCII")
        if (payload.length < 24 || fourcc(0) != "RIFF" || fourcc(8) != "AVI ")
          return (0, 0)
        var off = 12
        while (off + 8 <= payload.length) {
          val id = fourcc(off)
          val size = bb.getInt(off + 4)
          if (size < 0) return (0, 0)
          if (id == "LIST" && off + 12 <= payload.length && fourcc(off + 8) == "hdrl") {
            var o = off + 12
            val end = math.min(off + 8 + size, payload.length)
            while (o + 8 <= end) {
              val ssz = bb.getInt(o + 4)
              if (ssz < 0) return (0, 0)
              if (fourcc(o) == "avih" && o + 8 + 40 <= payload.length)
                return (bb.getInt(o + 8 + 32), bb.getInt(o + 8 + 36))
              o += 8 + ssz + (ssz & 1)
            }
            return (0, 0)
          }
          off += 8 + size + (size & 1)
        }
        (0, 0)
      } catch { case _: Exception => (0, 0) }
    }

    /** Parse the movi frame chunks of an uncompressed AVI: (offset, length)
      * per '00db' frame in stream order — the frame-extraction half of the
      * decodeVideo chunk walk. Nil for malformed payloads. */
    def aviFrameChunks(payload: Array[Byte]): Seq[(Int, Int)] = {
      try {
        val bb = java.nio.ByteBuffer.wrap(payload)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        def fourcc(off: Int): String = new String(payload, off, 4, "US-ASCII")
        if (payload.length < 12 || fourcc(0) != "RIFF" || fourcc(8) != "AVI ")
          return Nil
        var off = 12
        while (off + 8 <= payload.length) {
          val id = fourcc(off)
          val size = bb.getInt(off + 4)
          if (size < 0) return Nil
          if (id == "LIST" && off + 12 <= payload.length && fourcc(off + 8) == "movi") {
            val out = Seq.newBuilder[(Int, Int)]
            var o = off + 12
            val end = math.min(off + 8 + size, payload.length)
            while (o + 8 <= end) {
              val csz = bb.getInt(o + 4)
              if (csz < 0) return out.result()
              if (fourcc(o) == "00db" && o + 8 + csz <= payload.length)
                out += ((o + 8, csz))
              o += 8 + csz + (csz & 1)
            }
            return out.result()
          }
          off += 8 + size + (size & 1)
        }
        Nil
      } catch { case _: Exception => Nil }
    }

    /** Synthesize a cell-painted grayscale PNG: the image is a `cell`-px
      * grid, each cell a constant gray level derived from (id, cx, cy).
      * Constant-per-cell content makes box downsampling EXACT (the mean
      * of equal values is that value), which is what lets q236's
      * perceptual-hash gate assert zero hamming by construction. */
    def synthesizeCellPng(id: Long, w: Int, h: Int, cell: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val v = (fasthash.splitmix64(
            id ^ ((x / cell) * 1300501L) ^ ((y / cell) * 58511L)) & 0xFFL).toInt
          img.setRGB(x, y, (v << 16) | (v << 8) | v)
          x += 1
        }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }

    /** 2×2 integer box-mean downsample (the resize stage of q236's
      * pipeline). Exact on constant 2×2 blocks; floor division
      * otherwise. */
    def boxHalf(img: java.awt.image.BufferedImage): java.awt.image.BufferedImage = {
      val w = img.getWidth / 2; val h = img.getHeight / 2
      val out = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          var r = 0; var g = 0; var b = 0
          var dy = 0
          while (dy < 2) {
            var dx = 0
            while (dx < 2) {
              val p = img.getRGB(2 * x + dx, 2 * y + dy)
              r += (p >> 16) & 0xFF; g += (p >> 8) & 0xFF; b += p & 0xFF
              dx += 1
            }
            dy += 1
          }
          out.setRGB(x, y, ((r / 4) << 16) | ((g / 4) << 8) | (b / 4))
          x += 1
        }
        y += 1
      }
      out
    }

    /** 64-bit difference hash (dHash: Krawetz's perceptual hash): gray
      * SUMS over a 9×8 cell grid (sum comparison ≡ mean comparison at
      * equal cell areas — no division truncation), bit = left cell
      * brighter than its right neighbor. Resolution-invariant whenever
      * the grid aligns with the pixel raster (both 72×64 and its 36×32
      * half divide 9×8 exactly). */
    def dHash(img: java.awt.image.BufferedImage): Long = {
      val w = img.getWidth; val h = img.getHeight
      val sums = Array.ofDim[Long](8, 9)
      var cy = 0
      while (cy < 8) {
        var cx = 0
        while (cx < 9) {
          var s = 0L
          var y = cy * h / 8
          while (y < (cy + 1) * h / 8) {
            var x = cx * w / 9
            while (x < (cx + 1) * w / 9) {
              val p = img.getRGB(x, y)
              s += ((p >> 16) & 0xFF) + ((p >> 8) & 0xFF) + (p & 0xFF)
              x += 1
            }
            y += 1
          }
          sums(cy)(cx) = s
          cx += 1
        }
        cy += 1
      }
      var code = 0L
      var i = 0
      while (i < 64) {
        val cy0 = i / 8; val cx0 = i % 8
        if (sums(cy0)(cx0) > sums(cy0)(cx0 + 1)) code |= (1L << i)
        i += 1
      }
      code
    }

    /** A cell-painted bottom-up DIB frame raster (BGR24, 4-byte row
      * padding): constant `cell`-px gray blocks derived from
      * (id, frame, cx, cy) — the video analog of [[synthesizeCellPng]].
      * With cell = 4 on a 36×32 raster the painted grid ALIGNS with
      * dHash's 9×8 cell grid, so each hash bit compares two whole painted
      * values — deterministic, content-rich codes. */
    def cellFrame(id: Long, frame: Int, w: Int, h: Int, cell: Int): Array[Byte] = {
      val rowLen = ((w * 3 + 3) / 4) * 4
      val buf = new Array[Byte](rowLen * h)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val v = (fasthash.splitmix64(id ^ (frame.toLong * 977003L) ^
            ((x / cell) * 1300501L) ^ ((y / cell) * 58511L)) & 0xFFL).toByte
          val o = y * rowLen + x * 3
          buf(o) = v; buf(o + 1) = v; buf(o + 2) = v
          x += 1
        }
        y += 1
      }
      buf
    }

    /** Decode a bottom-up BGR24 DIB raster into a BufferedImage (the
      * frame-decode half of the q267 pipeline; [[aviFrameChunks]] slices
      * the raster bytes out of the container). */
    def dibToImage(bytes: Array[Byte], w: Int, h: Int): java.awt.image.BufferedImage = {
      val rowLen = ((w * 3 + 3) / 4) * 4
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val o = (h - 1 - y) * rowLen + x * 3
          val b = bytes(o) & 0xFF; val g = bytes(o + 1) & 0xFF
          val r = bytes(o + 2) & 0xFF
          img.setRGB(x, y, (r << 16) | (g << 8) | b)
          x += 1
        }
        y += 1
      }
      img
    }

    /** Synthesize a frame-block WAV: 65 frames × `frameLen` samples, the
      * amplitude CONSTANT within each frame (derived from (id, frame)).
      * Constant-per-frame content makes decimation exact for the energy
      * fingerprint (q237's audio analog of the q236 cell raster). */
    def synthesizeBlockWav(id: Long, sampleRate: Int, frameLen: Int): Array[Byte] = {
      val nFrames = 65
      val samples = new Array[Short](nFrames * frameLen)
      var k = 0
      while (k < nFrames) {
        val a = (fasthash.splitmix64(id ^ (k * 915587L)) & 0x3FFFL).toShort
        var j = 0
        while (j < frameLen) { samples(k * frameLen + j) = a; j += 1 }
        k += 1
      }
      pcmToWav(samples, sampleRate)
    }

    /** Encode 16-bit mono PCM samples as a real RIFF/WAVE payload. */
    def pcmToWav(samples: Array[Short], sampleRate: Int): Array[Byte] = {
      val dataLen = samples.length * 2
      val buf = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
        .put("WAVE".getBytes("US-ASCII"))
      buf.put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(1)
        .putInt(sampleRate).putInt(sampleRate * 2)
        .putShort(2).putShort(16)
      buf.put("data".getBytes("US-ASCII")).putInt(dataLen)
      samples.foreach(buf.putShort)
      buf.array()
    }

    /** REAL PCM decode: the sample array out of a WAV via
      * javax.sound.sampled (little-endian 16-bit mono). */
    def decodePcm(payload: Array[Byte]): Array[Short] = {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      try {
        val bytes = in.readAllBytes()
        val out = new Array[Short](bytes.length / 2)
        val bb = java.nio.ByteBuffer.wrap(bytes)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        var i = 0
        while (i < out.length) { out(i) = bb.getShort(2 * i); i += 1 }
        out
      } finally in.close()
    }

    /** 64-bit audio energy fingerprint: split the stream into 65 equal
      * frames, exact integer energy Σ|s| per frame, bit i = frame i+1
      * louder than frame i — the sign-of-energy-delta fingerprint
      * (the Haitsma–Kalker robust-hash family reduced to the energy
      * band). Decimation-invariant whenever frames decimate evenly. */
    def audioHash(samples: Array[Short]): Long = {
      val nFrames = 65
      val frameLen = samples.length / nFrames
      val e = new Array[Long](nFrames)
      var k = 0
      while (k < nFrames) {
        var s = 0L
        var j = 0
        while (j < frameLen) { s += math.abs(samples(k * frameLen + j).toLong); j += 1 }
        e(k) = s
        k += 1
      }
      var code = 0L
      var i = 0
      while (i < 64) {
        if (e(i + 1) > e(i)) code |= (1L << i)
        i += 1
      }
      code
    }

    /** Resize-to-thumbnail: aspect-preserving fit into 128×128. */
    def thumbDims(w: Int, h: Int): (Int, Int) = {
      val scale = 128.0 / math.max(w, h)
      if (w <= 0 || h <= 0) (0, 0)
      else if (scale >= 1.0) (w, h)
      else (math.max((w * scale).toInt, 1), math.max((h * scale).toInt, 1))
    }

    /** Frame sampling: every k-th frame index up to 8 frames. */
    def sampleFrames(nFrames: Int, k: Int = 8): Seq[Int] =
      if (nFrames <= 0) Nil
      else (0 until nFrames by math.max(nFrames / k, 1)).take(k)
  }

  /** Back-compat alias (thumb/frame math predates the real codecs). */
  val StubCodec: Codecs.type = Codecs

  private val pngUdf = udf((id: Long, w: Int, h: Int) => Codecs.synthesizePng(id, w, h))
  private val wavUdf = udf((id: Long, sr: Int, n: Int) => Codecs.synthesizeWav(id, sr, n))
  private val aviUdf = udf((id: Long, w: Int, h: Int) => Codecs.synthesizeAvi(id, w, h))

  /** Synthesize a deterministic media table from the documents table —
    * REAL PNG payloads for image rows (at exactly the declared
    * width×height, so decode is verifiable against metadata), REAL WAV
    * payloads for audio rows, REAL uncompressed-AVI payloads for video
    * rows (at the smaller v_width×v_height — see below). Stands in for
    * `spark.read.format("binaryFile")` / a media lake scan. */
  def mediaTable(t: Tables): DataFrame = mediaTableFrom(t.documents)

  /** Payload synthesis is per-row-heavy (a real PNG encode) — callers that
    * materialize payloads must pass an already-fanned-out documents frame,
    * or the codec work runs on the single scan partition. */
  def mediaTableFrom(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3 + 1).cast("int")).as("kind"),
      col("text"),
      // dims sized so the per-row PNG encode stays cheap (ImageIO deflate
      // is the q72 hot loop; ≤160×112 keeps the full sf0.1 pipeline ~1 s)
      (col("n_chars") % 128 + 32).cast("int").as("width"),
      (col("n_chars") % 96 + 16).cast("int").as("height"),
      when(col("doc_id") % 3 === 1, 16000).otherwise(0).as("sample_rate"),
      when(col("doc_id") % 3 === 2, (col("doc_id") % 240 + 24).cast("int"))
        .otherwise(0).as("n_frames"),
      (col("n_chars") % 2048 + 256).cast("int").as("n_samples"),
      // video payloads get their own SMALL dims (8-39 × 6-29): the AVI
      // stores real uncompressed DIB frames, and image-sized frames
      // (160×112×3×n) would dominate the whole pipeline's runtime
      ((col("n_chars") % 128 + 32) % 32 + 8).cast("int").as("v_width"),
      ((col("n_chars") % 96 + 16) % 24 + 6).cast("int").as("v_height"))
    .select(col("media_id"), col("kind"),
      when(col("kind") === "image",
        pngUdf(col("media_id"), col("width"), col("height")))
        .when(col("kind") === "audio",
          wavUdf(col("media_id"), col("sample_rate"), col("n_samples")))
        .otherwise(aviUdf(col("media_id"), col("v_width"), col("v_height")))
        .as("payload"),
      col("width"), col("height"), col("sample_rate"), col("n_frames"))

  /** Decode + feature-extract + resize + frame-sample, one partition batch
    * at a time (mapPartitions — no per-row task overhead, payloads never
    * shuffled). All three kinds decode through real container parsers. */
  def extractFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        val (dw, dh, dsr, daf) = r.kind match {
          case "image" =>
            val (w0, h0) = Codecs.decodeImageDims(r.payload); (w0, h0, 0, 0L)
          case "audio" =>
            val (sr, nf) = Codecs.decodeAudio(r.payload); (0, 0, sr, nf)
          case _ =>
            val (w0, h0) = Codecs.decodeVideo(r.payload); (w0, h0, 0, 0L)
        }
        val (tw, th) = Codecs.thumbDims(dw, dh)
        var h = 1469598103934665603L
        var sum = 0L
        var i = 0
        while (i < r.payload.length) {
          h = fasthash.splitmix64(h ^ (r.payload(i) & 0xFF))
          sum += (r.payload(i) & 0xFF)
          i += 1
        }
        MediaFeatures(r.media_id, r.kind, r.payload.length.toLong, h,
          if (r.payload.isEmpty) 0.0 else sum.toDouble / r.payload.length,
          dw, dh, dsr, daf, tw, th, Codecs.sampleFrames(r.n_frames))
      }
    }
  }

  /** Query surface: full decode pipeline over the synthetic media table,
    * under the HASH GATE since r12 (VERDICT r11 item 4, the q130
    * envelope pattern per ROW): the engine still synthesizes real
    * PNG/WAV/AVI payloads and decodes them through the real container
    * parsers, but the emitted columns are now split into
    *  - exact metadata replays the oracle recomputes from the declared
    *    formulas (decoded dims/rate/frames, thumbnail dims, sampled
    *    frame indexes — thumb math is one IEEE divide+multiply+trunc,
    *    identical cross-engine), which MATCH the decode output precisely
    *    because the codecs round-trip (q130's contract), and
    *  - two envelope booleans carrying the engine-specific work the
    *    oracle cannot replay (deflate payload length, fingerprint, mean
    *    byte): decode_ok (per-kind decoded == declared) and payload_ok
    *    (non-empty payload, nonzero fingerprint, interior mean byte),
    *    asserted TRUE.
    * A codec/resize/frame-sample regression now fails the driver compare
    * per row, not just MultimodalSpec. The sampled-frames array is CSV
    * (q70 precedent: scalar-only output columns). */
  def qMediaFeatures(t: Tables): DataFrame = {
    val spark = t.spark
    import spark.implicits._
    // fanout BEFORE synthesis — fanout(mediaTable(t)) would leave the PNG
    // encode below the exchange, on the single scan partition (measured:
    // 15.8 s vs ~1 s at sf0.1)
    val feats =
      extractFeatures(mediaTableFrom(t.fanout(t.documents)).as[MediaRow]).toDF()
    // declared values re-derived from the synthesizer's own formulas
    // (qDecodeCheck's pattern)
    val declared = t.documents.select(col("doc_id").as("media_id"),
      (col("n_chars") % 128 + 32).cast("int").as("width"),
      (col("n_chars") % 96 + 16).cast("int").as("height"),
      when(col("doc_id") % 3 === 1, 16000).otherwise(0).as("sample_rate"),
      (col("n_chars") % 2048 + 256).cast("long").as("n_samples"),
      ((col("n_chars") % 128 + 32) % 32 + 8).cast("int").as("v_width"),
      ((col("n_chars") % 96 + 16) % 24 + 6).cast("int").as("v_height"))
    feats.join(declared, "media_id")
      .select(col("media_id"), feats("kind"),
        col("decoded_width"), col("decoded_height"),
        col("decoded_sample_rate"), col("decoded_audio_frames"),
        col("thumb_width"), col("thumb_height"),
        array_join(col("sampled_frames").cast("array<string>"), ",")
          .as("sampled_frames"),
        ((feats("kind") === "image" && col("decoded_width") === col("width")
            && col("decoded_height") === col("height")) ||
          (feats("kind") === "audio" && col("decoded_sample_rate") === col("sample_rate")
            && col("decoded_audio_frames") === col("n_samples")) ||
          (feats("kind") === "video" && col("decoded_width") === col("v_width")
            && col("decoded_height") === col("v_height")
            && col("decoded_sample_rate") === 0)).as("decode_ok"),
        (col("n_bytes") > 0 && col("sha_like") =!= 0 &&
          col("mean_byte") > 0.0 && col("mean_byte") < 255.0).as("payload_ok"))
      // materialize the narrow feature rows before the global sort: the
      // range partitioner's sampling job would otherwise re-run the whole
      // synth+decode pipeline a second time (measured 2.7 s vs 1.3 s)
      .localCheckpoint()
      .orderBy(col("media_id"))
  }

  /** q72 oracle: every scalar column from the metadata formulas alone
    * (decode round-trips exactly — q130), thumbnail dims via the same
    * IEEE trunc(dim · 128/max) the JVM kernel computes, frame sampling
    * via the same stride arithmetic; envelope booleans asserted TRUE. */
  def qMediaFeaturesSql: String =
    """WITH m AS (
      |  SELECT doc_id AS media_id,
      |    (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INT)] AS kind,
      |    CAST(n_chars % 128 + 32 AS INT) AS width,
      |    CAST(n_chars % 96 + 16 AS INT) AS height,
      |    CASE WHEN doc_id % 3 = 1 THEN 16000 ELSE 0 END AS sample_rate,
      |    CAST(n_chars % 2048 + 256 AS BIGINT) AS n_samples,
      |    CASE WHEN doc_id % 3 = 2 THEN CAST(doc_id % 240 + 24 AS INT)
      |         ELSE 0 END AS n_frames,
      |    CAST((n_chars % 128 + 32) % 32 + 8 AS INT) AS v_width,
      |    CAST((n_chars % 96 + 16) % 24 + 6 AS INT) AS v_height
      |  FROM documents),
      |d AS (
      |  SELECT media_id, kind,
      |    CASE kind WHEN 'image' THEN width WHEN 'video' THEN v_width
      |         ELSE 0 END AS dw,
      |    CASE kind WHEN 'image' THEN height WHEN 'video' THEN v_height
      |         ELSE 0 END AS dh,
      |    CASE kind WHEN 'audio' THEN sample_rate ELSE 0 END AS dsr,
      |    CASE kind WHEN 'audio' THEN n_samples ELSE CAST(0 AS BIGINT) END AS daf,
      |    n_frames
      |  FROM m)
      |SELECT media_id, kind,
      |  CAST(dw AS INT) AS decoded_width, CAST(dh AS INT) AS decoded_height,
      |  CAST(dsr AS INT) AS decoded_sample_rate, daf AS decoded_audio_frames,
      |  CAST(CASE WHEN dw <= 0 OR dh <= 0 THEN 0
      |            WHEN dw <= 128 AND dh <= 128 THEN dw
      |            ELSE greatest(CAST(trunc(dw * (128.0 / greatest(dw, dh))) AS INT), 1)
      |       END AS INT) AS thumb_width,
      |  CAST(CASE WHEN dw <= 0 OR dh <= 0 THEN 0
      |            WHEN dw <= 128 AND dh <= 128 THEN dh
      |            ELSE greatest(CAST(trunc(dh * (128.0 / greatest(dw, dh))) AS INT), 1)
      |       END AS INT) AS thumb_height,
      |  CASE WHEN n_frames <= 0 THEN ''
      |       ELSE array_to_string(list_transform(
      |              list_slice(range(0, n_frames, greatest(n_frames // 8, 1)), 1, 8),
      |              x -> CAST(x AS VARCHAR)), ',') END AS sampled_frames,
      |  TRUE AS decode_ok, TRUE AS payload_ok
      |FROM d ORDER BY media_id""".stripMargin

  /** Q130: decode-fidelity check under the HASH GATE — drives the REAL
    * codec path (synthesize → decode for every row) and counts, per kind,
    * how many rows decode back EXACTLY to their declared metadata (image:
    * PNG dims, audio: WAV sample rate + frame count, video: AVI header
    * dims — all three kinds round-trip through real containers since r6).
    * The oracle computes the expected counts from the metadata formulas
    * alone and asserts n_match = n — so a codec regression (or a future
    * payload/decoder change that breaks round-tripping) fails the driver
    * compare, not just MultimodalSpec. */
  def qDecodeCheck(t: Tables): DataFrame = {
    val spark = t.spark
    import spark.implicits._
    val media = mediaTableFrom(t.fanout(t.documents))
    val feats = extractFeatures(media.as[MediaRow]).toDF()
      .select(col("media_id"), col("decoded_width"), col("decoded_height"),
        col("decoded_sample_rate"), col("decoded_audio_frames"))
    // n_samples isn't carried on MediaRow — recompute the declared values
    // from the same formulas the synthesizer used
    val declared = t.documents.select(col("doc_id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3 + 1).cast("int")).as("kind"),
      (col("n_chars") % 128 + 32).cast("int").as("width"),
      (col("n_chars") % 96 + 16).cast("int").as("height"),
      when(col("doc_id") % 3 === 1, 16000).otherwise(0).as("sample_rate"),
      (col("n_chars") % 2048 + 256).cast("long").as("n_samples"),
      ((col("n_chars") % 128 + 32) % 32 + 8).cast("int").as("v_width"),
      ((col("n_chars") % 96 + 16) % 24 + 6).cast("int").as("v_height"))
    feats.join(declared, "media_id")
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n"),
        count(when(
          (col("kind") === "image" && col("decoded_width") === col("width")
            && col("decoded_height") === col("height")) ||
          (col("kind") === "audio" && col("decoded_sample_rate") === col("sample_rate")
            && col("decoded_audio_frames") === col("n_samples")) ||
          (col("kind") === "video" && col("decoded_width") === col("v_width")
            && col("decoded_height") === col("v_height")
            && col("decoded_sample_rate") === 0),
          lit(1))).as("n_decode_match"))
      .orderBy(col("kind"))
  }

  /** q130 oracle: expected counts from the metadata formulas alone —
    * n_decode_match MUST equal n (the decode round-trips faithfully). */
  val qDecodeCheckSql: String =
    """SELECT kind, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(COUNT(*) AS BIGINT) AS n_decode_match
      |FROM (SELECT (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INT)] AS kind
      |      FROM documents)
      |GROUP BY kind ORDER BY kind""".stripMargin

  /** Metadata-only aggregate — must never read the payload column (column
    * pruning; asserted via the physical plan in MultimodalSpec). Oracled:
    * the metadata derivation is pure column arithmetic, so DuckDB can
    * replay it — the multimodal block's hash-green anchor (VERDICT r2
    * item 2). */
  def qMediaMetadata(t: Tables): DataFrame =
    mediaTable(t)
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n"), avg(col("width")).as("avg_width"),
        max(col("n_frames")).as("max_frames"))
      .orderBy(col("kind"))

  /** q73 oracle: replays mediaTable's metadata columns (NOT the payload —
    * the oracle never materializes it, mirroring the pruning contract).
    * avg over exact integer sums is the same double on both engines. */
  val qMediaMetadataSql: String =
    """SELECT kind, CAST(COUNT(*) AS BIGINT) AS n, avg(width) AS avg_width,
      |  CAST(max(n_frames) AS INT) AS max_frames
      |FROM (SELECT (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INT)] AS kind,
      |        CAST(n_chars % 128 + 32 AS INT) AS width,
      |        CASE WHEN doc_id % 3 = 2 THEN CAST(doc_id % 240 + 24 AS INT)
      |             ELSE 0 END AS n_frames
      |      FROM documents)
      |GROUP BY kind ORDER BY kind""".stripMargin

  // ---------------------------------------------------- frame sampling

  private val frameSampleUdf = udf(
    (id: Long, w: Int, h: Int, nf: Int, k: Int) => {
      val payload = Codecs.synthesizeAvi(id, w, h, nf)
      val chunks = Codecs.aviFrameChunks(payload)
      val idxs = Codecs.sampleFrames(chunks.length, k)
      val crcs = idxs.map { i =>
        val (o, len) = chunks(i)
        val c = new java.util.zip.CRC32()
        c.update(payload, o, len)
        (i, len, c.getValue)
      }
      // sampled frames must checksum nonzero and pairwise distinct (the
      // splitmix64 frame streams never repeat) — the q130 envelope trick:
      // the boolean is the driver-checkable face of the unreplayable CRCs
      val ok = crcs.nonEmpty && crcs.forall(_._3 != 0L) &&
        crcs.map(_._3).distinct.size == crcs.size
      crcs.map { case (i, len, _) => (i, len, ok) }
    })

  /** Frames q146 samples per video (evenly strided). */
  final val FrameSampleK = 4

  /** Q146: video frame sampling — the frame-sample step of a multimodal
    * pipeline (every k-th frame up to `FrameSampleK` frames per video), against REAL
    * container payloads: per-row AVI synthesis (frame count 3..8 derived
    * from doc fields), movi chunk walk (Codecs.aviFrameChunks), CRC32 per
    * sampled frame. Emits (media_id, frame_idx, frame_len, crc_ok).
    *
    * Oracle: frame_idx and frame_len replay EXACTLY from the documents
    * table (the sampling stride and DIB row padding are integer
    * arithmetic); the CRCs fold into crc_ok — nonzero + pairwise-distinct
    * — asserted TRUE by the oracle, so a chunk-walk regression (wrong
    * offsets → repeated/zero checksums, wrong lengths → hash mismatch)
    * fails the driver compare.
    *
    * Scale shape: one scan of the fanned-out video slice, per-row bounded
    * work (≤8 frames × small DIBs), explode factor ≤ k — linear; payloads
    * never shuffle (synthesized and parsed inside one task, the q72
    * fanout-first invariant). */
  def qFrameSample(t: Tables): DataFrame =
    t.fanout(t.documents).filter(col("doc_id") % 3 === 2)
      .select(col("doc_id").as("media_id"),
        ((col("n_chars") % 128 + 32) % 32 + 8).cast("int").as("vw"),
        ((col("n_chars") % 96 + 16) % 24 + 6).cast("int").as("vh"),
        (col("doc_id") % 6 + 3).cast("int").as("nf"))
      .select(col("media_id"),
        explode(frameSampleUdf(col("media_id"), col("vw"), col("vh"),
          col("nf"), lit(FrameSampleK))).as("fr"))
      .select(col("media_id"), col("fr._1").as("frame_idx"),
        col("fr._2").as("frame_len"), col("fr._3").as("crc_ok"))
      .orderBy(col("media_id"), col("frame_idx"))

  /** The q236 per-row codec pipeline: synthesize the 72×64 cell PNG,
    * decode it, box-downsample to a 36×32 thumbnail, RE-ENCODE the
    * thumbnail through the codec, decode again, dHash both rasters.
    * Both encode→decode round-trips are real (PNG is lossless). */
  private val dhashPairUdf = udf { (id: Long) =>
    val orig = Codecs.synthesizeCellPng(id, 72, 64, 8)
    val oImg = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(orig))
    val tImg = Codecs.boxHalf(oImg)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(tImg, "png", bos)
    val tDec = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(bos.toByteArray))
    (Codecs.dHash(oImg), Codecs.dHash(tDec))
  }

  /** Q236: image near-dup by perceptual hash — find each image's RESIZED
    * copy with a 64-bit dHash (Krawetz's difference hash, the standard
    * resized/re-encoded-copy detector) and SimHash-style pigeonhole
    * blocking (q35's recipe: 4×16-bit chunks; a hamming-≤3 pair agrees
    * on ≥1 chunk). The pipeline is the real multimodal shape end to end:
    * synthesize PNG → decode → box-resize → re-encode → decode → hash →
    * blocked self-join → exact hamming verify.
    *
    * HASH GATE (the q130/q146 envelope): cell-painted content makes the
    * thumbnail's dHash EXACTLY the original's (constant 2×2 blocks
    * box-average exactly; both rasters divide the 9×8 grid), so for
    * every image the blind blocked search MUST rediscover its own
    * thumbnail at hamming 0 — `found` and `hamming_ok` are asserted TRUE
    * by the oracle, which replays only the id set. The hash VALUES stay
    * engine-side (JVM codec rasters aren't SQL-derivable — the same
    * justification as q72's features); a codec/resize/hash regression
    * breaks the booleans and fails the driver compare.
    *
    * Scale shape: per-row bounded codec work on the fanned-out scan
    * (q72's fanout-first invariant), ONE chunk equi-join (never
    * all-pairs), one aggregate per side. */
  def qImageDedup(t: Tables): DataFrame =
    selfRediscovery(
      t.fanout(t.documents)
        .select(col("doc_id").as("media_id"), dhashPairUdf(col("doc_id")).as("c")))

  /** The shared q236/q237 search: chunk-blocked self-join between the
    * original and variant code columns, exact hamming verify, and the
    * per-id rediscovery booleans. `pairs` is (media_id, c=(code_o,
    * code_t)); the localCheckpoint gives one codec-pipeline eval per row
    * (the q191 anti-re-evaluation barrier — the struct is referenced
    * per join side otherwise). */
  private def selfRediscovery(pairs: DataFrame): DataFrame = {
    val maxHamming = 3
    val codes = pairs
      .select(col("media_id"), col("c._1").as("code_o"), col("c._2").as("code_t"))
      .localCheckpoint()
    def chunks(codeCol: String, tag: String): DataFrame =
      codes.select(col("media_id").as(s"id_$tag"), col(codeCol).as(s"code_$tag"))
        .withColumn("ci", explode(typedLit(Seq(0, 1, 2, 3))))
        .withColumn("cv", expr(s"shiftright(code_$tag, ci * 16) & 65535")
          .cast("long"))
    val matched = chunks("code_o", "o").join(chunks("code_t", "t"), Seq("ci", "cv"))
      .groupBy(col("id_o"), col("id_t"), col("code_o"), col("code_t"))
      .agg(count(lit(1)).as("n_chunks"))
      .withColumn("hamming",
        bit_count(col("code_o").bitwiseXOR(col("code_t"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
    val selfFound = matched.filter(col("id_o") === col("id_t"))
      .select(col("id_o").as("media_id"), lit(true).as("found"),
        (col("hamming") <= maxHamming).as("hamming_ok"))
    codes.select(col("media_id"))
      .join(selfFound, Seq("media_id"), "left")
      .select(col("media_id"), coalesce(col("found"), lit(false)).as("found"),
        coalesce(col("hamming_ok"), lit(false)).as("hamming_ok"))
      .orderBy(col("media_id"))
  }

  /** The q237 per-row codec pipeline: synthesize the frame-block WAV,
    * decode the PCM back out of the container, fingerprint; decimate by
    * 2 (the resample stage), RE-ENCODE through the WAV codec at half
    * rate, decode again, fingerprint. */
  private val audioHashPairUdf = udf { (id: Long) =>
    val wav = Codecs.synthesizeBlockWav(id, 16000, 64)
    val pcm = Codecs.decodePcm(wav)
    val half = Array.tabulate[Short](pcm.length / 2)(j => pcm(2 * j))
    val halfWav = Codecs.pcmToWav(half, 8000)
    val halfPcm = Codecs.decodePcm(halfWav)
    (Codecs.audioHash(pcm), Codecs.audioHash(halfPcm))
  }

  /** Q237: audio near-dup by energy fingerprint — q236's recipe on the
    * audio modality: find each clip's half-rate RESAMPLED copy with a
    * 64-bit sign-of-energy-delta fingerprint (Haitsma–Kalker family)
    * and the same 4×16-bit pigeonhole blocking. The pipeline is real
    * end to end: synthesize WAV → javax.sound decode → fingerprint →
    * decimate → re-encode at half rate → decode → fingerprint → blocked
    * self-join → exact hamming verify.
    *
    * HASH GATE: frame-constant amplitude makes decimation exact for the
    * energy ordering (each frame's energy halves uniformly), so every
    * clip must rediscover its resampled copy at hamming 0; the oracle
    * replays the id set and asserts the booleans TRUE — a codec,
    * resample, or fingerprint regression fails the driver compare. */
  def qAudioDedup(t: Tables): DataFrame =
    selfRediscovery(
      t.fanout(t.documents)
        .select(col("doc_id").as("media_id"), audioHashPairUdf(col("doc_id")).as("c")))

  /** The q267 per-row codec pipeline: synthesize a cell-painted AVI,
    * demux every frame back out of the container, dHash each; build the
    * TEMPORALLY SUBSAMPLED copy from the DECODED even-index frames,
    * re-encode it through the AVI writer, demux again, dHash again. */
  private val videoHashSetsUdf = udf { (id: Long) =>
    val w = 36; val h = 32
    val nf = (id % 6 + 4).toInt
    val frames = (0 until nf).map(f => Codecs.cellFrame(id, f, w, h, 4))
    val avi = Codecs.aviFromFrames(w, h, frames)
    def hashes(payload: Array[Byte]): Array[Long] =
      Codecs.aviFrameChunks(payload).map { case (o, l) =>
        Codecs.dHash(Codecs.dibToImage(
          java.util.Arrays.copyOfRange(payload, o, o + l), w, h))
      }.toArray
    val decoded = Codecs.aviFrameChunks(avi).map { case (o, l) =>
      java.util.Arrays.copyOfRange(avi, o, o + l) }
    val copyAvi = Codecs.aviFromFrames(w, h,
      decoded.zipWithIndex.collect { case (fb, i) if i % 2 == 0 => fb })
    (hashes(avi), hashes(copyAvi))
  }

  /** Q267: video near-dup by keyframe perceptual-hash sets — the third
    * modality of the q236/q237 family: find each video's temporally
    * SUBSAMPLED copy (every other frame, re-encoded through the
    * container) by exact frame-dHash blocking and set-overlap verify.
    * The pipeline is real end to end: synthesize cell-painted AVI →
    * RIFF demux → per-frame DIB decode → dHash → subsample → re-encode →
    * demux → dHash → frame-hash equi-join → per-pair overlap count.
    *
    * HASH GATE (the q236/q237 envelope): uncompressed DIB frames
    * round-trip the container BYTE-EXACTLY, so every copy frame's dHash
    * equals its source frame's and the blind blocked search MUST find
    * the self pair with overlap = the copy's distinct hash count —
    * `found` and `overlap_ok` asserted TRUE by the oracle, which
    * replays the id set and the integer frame counts (nf = id%6+4,
    * n_copy = (nf+1)//2). A demux-offset, DIB-orientation, or hash
    * regression fails the driver compare.
    *
    * Scale shape: per-row bounded codec work on the fanned-out scan
    * (q72's fanout-first invariant), ONE frame-hash equi-join (never
    * all-pairs), one aggregate per pair side. A frame hash shared by
    * many videos is the q185 mega-bucket class — the priced bucket-cap
    * governor applies unchanged if real content makes one. */
  def qVideoDedup(t: Tables): DataFrame = {
    val codes = t.fanout(t.documents)
      .select(col("doc_id").as("media_id"), videoHashSetsUdf(col("doc_id")).as("c"))
      .select(col("media_id"), col("c._1").as("h_orig"), col("c._2").as("h_copy"))
      .localCheckpoint()
    val orig = codes.select(col("media_id").as("id_o"),
      explode(array_distinct(col("h_orig"))).as("fh"))
    val copy = codes.select(col("media_id").as("id_c"),
      explode(array_distinct(col("h_copy"))).as("fh"))
    val shared = copy.join(orig, Seq("fh"))
      .groupBy(col("id_c"), col("id_o")).agg(count(lit(1)).as("n_shared"))
    val selfPairs = shared.filter(col("id_c") === col("id_o"))
      .select(col("id_c").as("media_id"), col("n_shared"))
    codes.select(col("media_id"),
        size(array_distinct(col("h_copy"))).cast("long").as("nd_copy"))
      .join(selfPairs, Seq("media_id"), "left")
      .select(col("media_id"),
        expr("media_id % 6 + 4").cast("long").as("nf"),
        expr("(media_id % 6 + 4 + 1) div 2").cast("long").as("n_copy"),
        col("n_shared").isNotNull.as("found"),
        (coalesce(col("n_shared"), lit(0L)) === col("nd_copy")).as("overlap_ok"))
      .orderBy(col("media_id"))
  }

  /** q267 oracle: the id set, the replayable frame counts, and both
    * envelope booleans asserted TRUE. */
  val qVideoDedupSql: String =
    """SELECT doc_id AS media_id,
      |  CAST(doc_id % 6 + 4 AS BIGINT) AS nf,
      |  CAST((doc_id % 6 + 4 + 1) // 2 AS BIGINT) AS n_copy,
      |  TRUE AS found, TRUE AS overlap_ok
      |FROM documents ORDER BY media_id""".stripMargin

  /** q237 oracle: the id set with both envelope booleans asserted TRUE. */
  val qAudioDedupSql: String =
    """SELECT doc_id AS media_id, TRUE AS found, TRUE AS hamming_ok
      |FROM documents ORDER BY media_id""".stripMargin

  /** q236 oracle: the id set with both envelope booleans asserted TRUE —
    * every image must rediscover its resized copy. */
  val qImageDedupSql: String =
    """SELECT doc_id AS media_id, TRUE AS found, TRUE AS hamming_ok
      |FROM documents ORDER BY media_id""".stripMargin

  /** q146 oracle: stride sampling replayed as list_slice(range(0, nf,
    * step)); frame_len = padded DIB row length × height. */
  def qFrameSampleSql: String =
    s"""WITH v AS (
       |  SELECT doc_id AS media_id,
       |    (n_chars % 128 + 32) % 32 + 8 AS vw,
       |    (n_chars % 96 + 16) % 24 + 6 AS vh,
       |    doc_id % 6 + 3 AS nf
       |  FROM documents WHERE doc_id % 3 = 2)
       |SELECT media_id, CAST(frame_idx AS INT) AS frame_idx,
       |  CAST(((vw * 3 + 3) // 4) * 4 * vh AS INT) AS frame_len,
       |  TRUE AS crc_ok
       |FROM (SELECT media_id, vw, vh,
       |        unnest(list_slice(range(0, CAST(nf AS INT), greatest(CAST(nf // $FrameSampleK AS INT), 1)), 1, $FrameSampleK)) AS frame_idx
       |      FROM v)
       |ORDER BY media_id, frame_idx""".stripMargin
}
