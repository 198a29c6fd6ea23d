package graft

import graft.ops.Multimodal

class MultimodalSpec extends SparkSpec {

  test("media features: real PNG/WAV decode matches declared metadata, deterministic") {
    val t = sf0001
    val a = Multimodal.qMediaFeatures(t).collect()
    assert(a.length == 500)
    val b = Multimodal.qMediaFeatures(t).collect()
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
    // declared metadata (payload pruned out of this read)
    val meta = Multimodal.mediaTable(t)
      .select("media_id", "width", "height", "sample_rate").collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3)))).toMap
    a.foreach { r =>
      val (w, h, sr) = meta(r.getLong(0))
      // envelope booleans carry the engine-specific payload work
      assert(r.getBoolean(9), s"media ${r.getLong(0)}: decode_ok false")
      assert(r.getBoolean(10), s"media ${r.getLong(0)}: payload_ok false")
      r.getString(1) match {
        case "image" =>
          // the codec must read back exactly the dims the PNG was built at
          assert(r.getInt(2) == w && r.getInt(3) == h,
            s"media ${r.getLong(0)}: decoded ${r.getInt(2)}x${r.getInt(3)} vs declared ${w}x$h")
          assert(r.getInt(6) <= 128 && r.getInt(7) <= 128) // thumb fits
        case "audio" =>
          assert(r.getInt(4) == sr, s"decoded rate ${r.getInt(4)} vs declared $sr")
          assert(r.getLong(5) > 0) // frame count recovered from the RIFF header
        case _ => // video: AVI header dims recovered by the RIFF walk
          assert(r.getInt(2) > 0 && r.getInt(3) > 0,
            s"media ${r.getLong(0)}: video decode got ${r.getInt(2)}x${r.getInt(3)}")
          assert(r.getInt(4) == 0)
      }
    }
  }

  test("codec goldens: synthesized PNG/WAV round-trip through the real decoders") {
    import Multimodal.Codecs
    // PNG: magic bytes + exact dimensional round-trip at several sizes
    Seq((1L, 37, 23), (42L, 128, 128), (7L, 575, 319), (9L, 1, 1)).foreach {
      case (id, w, h) =>
        val png = Codecs.synthesizePng(id, w, h)
        assert(png.take(8).sameElements(
          Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)),
          "not a PNG signature")
        assert(Codecs.decodeImageDims(png) == ((w, h)))
    }
    // deterministic synthesis: same inputs, same bytes
    assert(Codecs.synthesizePng(5L, 16, 16).sameElements(Codecs.synthesizePng(5L, 16, 16)))
    // WAV: RIFF magic + sample rate and frame count round-trip
    val wav = Codecs.synthesizeWav(3L, 16000, 777)
    assert(new String(wav.take(4), "US-ASCII") == "RIFF")
    assert(Codecs.decodeAudio(wav) == ((16000, 777L)))
    // AVI: RIFF/AVI magic + exact dimensional round-trip at several sizes
    Seq((1L, 8, 6), (42L, 39, 29), (7L, 17, 11)).foreach { case (id, w, h) =>
      val avi = Codecs.synthesizeAvi(id, w, h)
      assert(new String(avi.take(4), "US-ASCII") == "RIFF")
      assert(new String(avi.slice(8, 12), "US-ASCII") == "AVI ")
      assert(Codecs.decodeVideo(avi) == ((w, h)),
        s"AVI ${w}x$h decoded as ${Codecs.decodeVideo(avi)}")
    }
    // golden pin: one known container byte-for-byte stable (header bytes)
    val g = Codecs.synthesizeAvi(3L, 8, 6)
    assert(g.length == 8 + 4 + (8 + 4 + 64 + 8 + 4 + 64 + 48) + (8 + 4 + 2 * (8 + 8 * 3 * 6)))
    assert(g.sameElements(Codecs.synthesizeAvi(3L, 8, 6)))
    // junk bytes don't crash the decoders
    assert(Codecs.decodeImageDims(Array[Byte](1, 2, 3)) == ((0, 0)))
    assert(Codecs.decodeAudio(Array[Byte](1, 2, 3)) == ((0, 0L)))
    assert(Codecs.decodeVideo(Array[Byte](1, 2, 3)) == ((0, 0)))
    assert(Codecs.decodeVideo("RIFFxxxxAVI but truncated".getBytes) == ((0, 0)))
  }

  test("video rows get sampled frames, others none") {
    // sampled_frames is CSV-serialized for the driver gate (scalar-only
    // output columns); empty string = no frames
    val rows = Multimodal.qMediaFeatures(sf0001)
      .select("kind", "sampled_frames").collect()
    rows.foreach { r =>
      val s = r.getString(1)
      if (r.getString(0) == "video")
        assert(s.nonEmpty && s.split(",").length <= 8)
      else assert(s.isEmpty)
    }
  }

  test("q146 frame chunks golden: synthesized AVI parses back to exact frames") {
    import Multimodal.Codecs
    val payload = Codecs.synthesizeAvi(7L, 10, 6, nFrames = 5)
    val chunks = Codecs.aviFrameChunks(payload)
    val rowLen = ((10 * 3 + 3) / 4) * 4
    assert(chunks.length == 5)
    assert(chunks.forall(_._2 == rowLen * 6), s"frame lens ${chunks.map(_._2)}")
    // frame bytes are splitmix64 streams: distinct nonzero CRCs
    val crcs = chunks.map { case (o, len) =>
      val c = new java.util.zip.CRC32(); c.update(payload, o, len); c.getValue
    }
    assert(crcs.distinct.size == 5 && crcs.forall(_ != 0L))
    // malformed payloads parse to no frames
    assert(Codecs.aviFrameChunks(Array[Byte](1, 2, 3)).isEmpty)
    assert(Codecs.aviFrameChunks(payload.take(40).toArray).isEmpty)
    // the query face: every emitted row passes the CRC envelope and
    // sampling matches Codecs.sampleFrames on the declared frame count
    val rows = Multimodal.qFrameSample(sf0001).collect()
    assert(rows.nonEmpty && rows.forall(_.getBoolean(3)))
    val byMedia = rows.groupBy(_.getLong(0))
    byMedia.foreach { case (id, rs) =>
      val nf = (id % 6 + 3).toInt
      assert(rs.map(_.getInt(1)).toSeq.sorted == Codecs.sampleFrames(nf, 4).sorted,
        s"media $id sampled ${rs.map(_.getInt(1)).toSeq} for nf=$nf")
    }
  }

  test("metadata-only query prunes the payload column from the scan") {
    val plan = Multimodal.qMediaMetadata(sf0001)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("payload"), "payload column not pruned:\n" + plan)
  }

  test("binaryFile source scans real files into payload + metadata rows") {
    // the production ingest path for a media lake: spark's binaryFile
    // source yields (path, modificationTime, length, content)
    val dir = java.nio.file.Files.createTempDirectory("media").toString
    (1 to 3).foreach { i =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$dir/img_$i.bin"),
        Array.fill[Byte](100 * i)(i.toByte))
    }
    val df = spark.read.format("binaryFile").load(dir)
    assert(df.count() == 3)
    val rows = df.select("path", "length", "content").collect()
    rows.foreach { r =>
      assert(r.getLong(1) > 0)
      assert(r.getAs[Array[Byte]](2).length == r.getLong(1))
    }
  }

  test("thumbnail resize preserves aspect ratio within rounding") {
    val (tw, th) = Multimodal.StubCodec.thumbDims(1024, 512)
    assert(tw == 128 && th == 64)
    assert(Multimodal.StubCodec.thumbDims(100, 100) == ((100, 100)))
    assert(Multimodal.StubCodec.sampleFrames(240).length == 8)
    assert(Multimodal.StubCodec.sampleFrames(0).isEmpty)
  }

  test("q236 dHash: resize-exact by construction; codes vary; search is blocked") {
    // kernel-level goldens: the cell-painted raster's dHash survives the
    // full decode→box-resize→re-encode→decode round-trip EXACTLY
    val codes = (0L until 64L).map { id =>
      val png = Multimodal.Codecs.synthesizeCellPng(id, 72, 64, 8)
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
      assert(img.getWidth == 72 && img.getHeight == 64)
      val half = Multimodal.Codecs.boxHalf(img)
      assert(half.getWidth == 36 && half.getHeight == 32)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(half, "png", bos)
      val dec = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bos.toByteArray))
      val (co, ct) = (Multimodal.Codecs.dHash(img), Multimodal.Codecs.dHash(dec))
      assert(co == ct, s"id $id: dHash not resize-exact ($co vs $ct)")
      co
    }
    // the hash actually discriminates: distinct codes across ids
    assert(codes.distinct.size > 56, s"only ${codes.distinct.size}/64 distinct codes")
    // query surface: every image finds its thumbnail; the plan is the
    // chunk equi-join (no all-pairs)
    val out = Multimodal.qImageDedup(sf0001)
    assert(!out.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"))
    val rows = out.collect()
    assert(rows.length == sf0001.documents.count().toInt)
    assert(rows.forall(r => r.getBoolean(1) && r.getBoolean(2)))
  }

  test("q237 audio hash: decimation-exact by construction; codes vary") {
    val codes = (0L until 64L).map { id =>
      val wav = Multimodal.Codecs.synthesizeBlockWav(id, 16000, 64)
      val pcm = Multimodal.Codecs.decodePcm(wav)
      assert(pcm.length == 65 * 64)
      val half = Array.tabulate[Short](pcm.length / 2)(j => pcm(2 * j))
      val halfWav = Multimodal.Codecs.pcmToWav(half, 8000)
      val halfPcm = Multimodal.Codecs.decodePcm(halfWav)
      assert(halfPcm.length == 65 * 32)
      val (co, ct) = (Multimodal.Codecs.audioHash(pcm),
        Multimodal.Codecs.audioHash(halfPcm))
      assert(co == ct, s"id $id: fingerprint not decimation-exact")
      co
    }
    assert(codes.distinct.size > 56, s"only ${codes.distinct.size}/64 distinct codes")
    val rows = Multimodal.qAudioDedup(sf0001).collect()
    assert(rows.length == sf0001.documents.count().toInt)
    assert(rows.forall(r => r.getBoolean(1) && r.getBoolean(2)))
  }

  test("q267 video frames: container round-trip byte-exact; copy hashes subset") {
    val C = Multimodal.Codecs
    (0L until 32L).foreach { id =>
      val w = 36; val h = 32
      val nf = (id % 6 + 4).toInt
      val frames = (0 until nf).map(f => C.cellFrame(id, f, w, h, 4))
      val avi = C.aviFromFrames(w, h, frames)
      // demux returns every frame raster byte-identically
      val chunks = C.aviFrameChunks(avi)
      assert(chunks.length == nf)
      val decoded = chunks.map { case (o, l) =>
        java.util.Arrays.copyOfRange(avi, o, o + l) }
      decoded.zip(frames).foreach { case (d, f) =>
        assert(java.util.Arrays.equals(d, f), s"id $id: frame round-trip broken") }
      // the re-encoded even-frame copy demuxes to the same bytes again
      val copyFrames = decoded.zipWithIndex.collect { case (fb, i) if i % 2 == 0 => fb }
      val copyAvi = C.aviFromFrames(w, h, copyFrames)
      val copyDec = C.aviFrameChunks(copyAvi).map { case (o, l) =>
        java.util.Arrays.copyOfRange(copyAvi, o, o + l) }
      assert(copyDec.length == (nf + 1) / 2)
      val ho = decoded.map(fb => C.dHash(C.dibToImage(fb, w, h)))
      val hc = copyDec.map(fb => C.dHash(C.dibToImage(fb, w, h)))
      assert(hc.toSet.subsetOf(ho.toSet), s"id $id: copy hashes not a subset")
      // frame content varies: a video's own frames hash distinctly
      assert(ho.distinct.size == ho.size, s"id $id: frame-hash collision")
    }
    val rows = Multimodal.qVideoDedup(sf0001).collect()
    assert(rows.length == sf0001.documents.count().toInt)
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(0) % 6 + 4)
      assert(r.getLong(2) == (r.getLong(1) + 1) / 2)
      assert(r.getBoolean(3) && r.getBoolean(4), s"rediscovery broken: $r")
    }
  }
}
