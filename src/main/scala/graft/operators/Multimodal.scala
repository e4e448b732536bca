package graft.operators

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.ByteBuffer

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** North-star multimodal columns: media as opaque binary payloads with
  * typed metadata, plus decode / feature-extract / resize / frame-sample
  * stages running a REAL codec (JDK `javax.imageio` PNG — no external
  * dependency) executor-side.
  *
  * Payload layout: a length-prefixed container — each frame is a 4-byte
  * big-endian length followed by genuine PNG bytes. `img`/`audio` docs
  * carry one frame, `video` docs `doc_id % 4 + 2`. Pixel channel values
  * are a closed-form function of (doc_id, frame, x, y) — see [[pixelR]] —
  * which is what makes the decode queries ORACLE-ABLE despite the binary
  * round-trip: Spark must encode real PNGs, split the container, decode
  * the PNGs back and sum the decoded pixels; DuckDB recomputes the same
  * integer sums directly from the formula. PNG is lossless, so any codec
  * defect (wrong stride, channel order, premultiplication, truncated
  * frame) breaks the hash match. The re-encode path is load-bearing too:
  * resize decodes, scales nearest-neighbor, RE-encodes, re-decodes, and
  * only then sums — a corrupt encoder cannot pass.
  *
  * 100 TB notes: payload bytes dominate I/O — metadata-only predicates
  * (fmt/width/height) are plain columns so they prune parquet row groups
  * BEFORE payload pages are read; encode/decode run inside
  * `mapPartitions`/`flatMap` (per-partition iterator, codec lookup and
  * `ImageIO.setUseCache(false)` amortized per task, no per-row closure
  * dispatch); frame explosion multiplies rows but each frame row slices
  * only its own bytes out of the container.
  */
object Multimodal {

  case class MediaMeta(doc_id: Long, fmt: String, width: Int, height: Int,
                       n_frames: Int)
  case class MediaRecord(doc_id: Long, fmt: String, width: Int, height: Int,
                         n_frames: Int, payload: Array[Byte])
  case class FramePixels(doc_id: Long, fmt: String, frame_idx: Int,
                         w_px: Int, h_px: Int,
                         r_sum: Long, g_sum: Long, b_sum: Long)

  /** Closed-form pixel channels — the cross-engine contract. Kept to
    * cheap integer arithmetic so the DuckDB twin is a plain SUM over
    * unnested (x, y[, f]) ranges.
    */
  private[graft] def pixelR(d: Long, f: Int, x: Int, y: Int): Int =
    ((d * 31 + f * 41 + x * 7 + y * 13) % 256).toInt
  private[graft] def pixelG(d: Long, f: Int, x: Int, y: Int): Int =
    ((d * 17 + f * 23 + x * 5 + y * 3) % 256).toInt
  private[graft] def pixelB(d: Long, f: Int, x: Int, y: Int): Int =
    ((d * 29 + f * 37 + x * 11 + y * 19) % 256).toInt

  private[graft] def renderFrame(d: Long, f: Int, w: Int, h: Int): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        img.setRGB(x, y,
          (pixelR(d, f, x, y) << 16) | (pixelG(d, f, x, y) << 8) | pixelB(d, f, x, y))
        x += 1
      }
      y += 1
    }
    img
  }

  private[graft] def encodePng(img: BufferedImage): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    if (!javax.imageio.ImageIO.write(img, "png", bos))
      throw new IllegalStateException("no PNG ImageWriter available")
    bos.toByteArray
  }

  private[graft] def decodePng(bytes: Array[Byte]): BufferedImage = {
    val img = javax.imageio.ImageIO.read(new ByteArrayInputStream(bytes))
    if (img == null) throw new IllegalStateException("payload is not a decodable image")
    img
  }

  /** Split a length-prefixed container into its frame byte blocks. */
  private[graft] def splitFrames(payload: Array[Byte]): Seq[Array[Byte]] = {
    val bb = ByteBuffer.wrap(payload)
    val out = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    while (bb.remaining() > 0) {
      val len = bb.getInt()
      val frame = new Array[Byte](len)
      bb.get(frame)
      out += frame
    }
    out.toSeq
  }

  private def channelSums(img: BufferedImage): (Long, Long, Long) = {
    var (rs, gs, bs) = (0L, 0L, 0L)
    var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) {
        val rgb = img.getRGB(x, y)
        rs += (rgb >> 16) & 0xff; gs += (rgb >> 8) & 0xff; bs += rgb & 0xff
        x += 1
      }
      y += 1
    }
    (rs, gs, bs)
  }

  /** Media table: executor-side PNG synthesis from the closed-form pixel
    * function (no driver-side collect, no fixture files — each partition
    * encodes its own rows' frames).
    */
  def mediaTable(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir).select(
        col("doc_id"),
        expr("element_at(array('img','audio','video'), cast(doc_id % 3 + 1 AS int))").as("fmt"),
        (col("doc_id") % 16 + 1).cast("int").as("width"),
        (col("doc_id") % 9 + 1).cast("int").as("height"),
        when(col("doc_id") % 3 === 2, col("doc_id") % 4 + 2).otherwise(lit(1))
          .cast("int").as("n_frames"))
      .as[MediaMeta]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false) // in-memory streams, once per task
        it.map { m =>
          val frames = (0 until m.n_frames)
            .map(f => encodePng(renderFrame(m.doc_id, f, m.width, m.height)))
          val buf = ByteBuffer.allocate(frames.map(_.length + 4).sum)
          frames.foreach { fb => buf.putInt(fb.length); buf.put(fb) }
          MediaRecord(m.doc_id, m.fmt, m.width, m.height, m.n_frames, buf.array())
        }
      }
      .toDF()
  }

  /** Container split + per-frame PNG decode + exact channel sums. */
  def decodedFrames(media: Dataset[MediaRecord]): Dataset[FramePixels] = {
    import media.sparkSession.implicits._
    media.flatMap { rec =>
      javax.imageio.ImageIO.setUseCache(false)
      splitFrames(rec.payload).zipWithIndex.map { case (fb, i) =>
        val img = decodePng(fb)
        val (rs, gs, bs) = channelSums(img)
        FramePixels(rec.doc_id, rec.fmt, i, img.getWidth, img.getHeight, rs, gs, bs)
      }
    }
  }

  /** Oracle-able metadata projection (pure integer arithmetic — validates
    * the schema/partition layer; `raw_bytes` is the DECODED pixel-buffer
    * size 3·w·h·frames, a closed-form quantity, not the compressed PNG
    * length which is encoder-specific).
    */
  def multimodalMeta(s: SparkSession, dir: String): DataFrame =
    mediaTable(s, dir)
      .select(col("doc_id"), col("fmt"), col("width"), col("height"),
        col("n_frames"),
        (col("width") * col("height")).as("pixels"),
        (col("width") * col("height") * col("n_frames") * 3).as("raw_bytes"))
      .orderBy("doc_id")

  /** Thumbnail decode: ONLY frame 0's bytes leave the container — the
    * other frames' PNG bytes are never decoded (at 100 TB, decoding a
    * whole video to read its first frame is the bug).
    */
  def decodeFeatures(media: Dataset[MediaRecord]): Dataset[FramePixels] = {
    import media.sparkSession.implicits._
    media.map { rec =>
      javax.imageio.ImageIO.setUseCache(false)
      val img = decodePng(splitFrames(rec.payload).head)
      val (rs, gs, bs) = channelSums(img)
      FramePixels(rec.doc_id, rec.fmt, 0, img.getWidth, img.getHeight, rs, gs, bs)
    }
  }

  /** ORACLE-ABLE (promoted r11, was rows-only stub): real PNG decode of
    * frame 0 for every doc; output = decoded dims + exact integer channel
    * sums, which DuckDB recomputes from the pixel formula.
    */
  def multimodalDecode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = mediaTable(s, dir).as[MediaRecord]
    decodeFeatures(media).toDF()
      .select(col("doc_id"), col("fmt"), col("w_px"), col("h_px"),
        col("r_sum"), col("g_sum"), col("b_sum"))
      .orderBy("doc_id")
  }

  /** ORACLE-ABLE (promoted r11): every frame of every video container
    * decoded; per-doc frame count + channel sums across frames.
    */
  def multimodalFrames(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = mediaTable(s, dir).filter(col("fmt") === "video").as[MediaRecord]
    decodedFrames(media).toDF()
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_frames"),
        sum(col("r_sum")).as("r_sum"),
        sum(col("g_sum")).as("g_sum"),
        sum(col("b_sum")).as("b_sum"))
      .orderBy("doc_id")
  }

  /** Nearest-neighbor 1/K downscale with a full codec round trip:
    * decode → sample pixels (out(x,y) = in(K·x, K·y)) → RE-encode PNG →
    * re-decode → sum. The double round trip makes the ENCODER part of
    * the graded contract, not just the decoder.
    */
  def resizePayload(media: Dataset[MediaRecord], factor: Int = 2): Dataset[FramePixels] = {
    import media.sparkSession.implicits._
    media.map { rec =>
      javax.imageio.ImageIO.setUseCache(false)
      val src = decodePng(splitFrames(rec.payload).head)
      val (ow, oh) = (math.max(1, src.getWidth / factor), math.max(1, src.getHeight / factor))
      val out = new BufferedImage(ow, oh, BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < oh) {
        var x = 0
        while (x < ow) { out.setRGB(x, y, src.getRGB(x * factor, y * factor)); x += 1 }
        y += 1
      }
      val rt = decodePng(encodePng(out)) // re-encode + re-decode: lossless check
      val (rs, gs, bs) = channelSums(rt)
      FramePixels(rec.doc_id, rec.fmt, 0, rt.getWidth, rt.getHeight, rs, gs, bs)
    }
  }

  /** ORACLE-ABLE (promoted r11): img docs, 2× nearest-neighbor downscale
    * through the encode/decode round trip above.
    */
  def multimodalResize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = mediaTable(s, dir).filter(col("fmt") === "img").as[MediaRecord]
    resizePayload(media).toDF()
      .select(col("doc_id"), col("w_px"), col("h_px"),
        col("r_sum"), col("g_sum"), col("b_sum"))
      .orderBy("doc_id")
  }

  /** 64-bit dHash (difference hash) — the standard perceptual image
    * fingerprint: sample the decoded image on a 9×8 nearest-neighbor
    * grid, integer-luma each sample (77r+150g+29b >> 8), set bit
    * gy·8+gx iff the right neighbor is brighter. Near-identical images
    * land within a small hamming distance; identical renderings
    * collide exactly.
    */
  private[graft] def dHash(img: BufferedImage): Long = {
    val (w, h) = (img.getWidth, img.getHeight)
    def luma(sx: Int, sy: Int): Int = {
      val rgb = img.getRGB(sx, sy)
      (77 * ((rgb >> 16) & 0xff) + 150 * ((rgb >> 8) & 0xff) + 29 * (rgb & 0xff)) >> 8
    }
    var hash = 0L
    var gy = 0
    while (gy < 8) {
      val sy = gy * h / 8
      var gx = 0
      while (gx < 8) {
        if (luma((gx + 1) * w / 9, sy) > luma(gx * w / 9, sy))
          hash |= (1L << (gy * 8 + gx))
        gx += 1
      }
      gy += 1
    }
    hash
  }

  /** ORACLE-ABLE image near-dup primitive (r11, §2 #242): dHash of every
    * doc's frame 0 through the real PNG decode, plus the size of its
    * exact-collision group (docs sharing the fingerprint — the
    * perceptual analog of q_dedup_exact; threshold near-dup would
    * bucket these hashes through the SimHash pigeonhole join). The
    * DuckDB twin recomputes the grid lumas from the pixel formula and
    * folds the 64 comparison bits in HUGEINT, wrapped mod 2^64.
    */
  private def phashes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mediaTable(s, dir).as[MediaRecord]
      .map { rec =>
        javax.imageio.ImageIO.setUseCache(false)
        (rec.doc_id, dHash(decodePng(splitFrames(rec.payload).head)))
      }
      .toDF("doc_id", "phash")
  }

  /** Materialized dHash relation (doc_id, phash) — r21: the real PNG
    * decode is the dominant cost of FOUR consumers (q_multimodal_phash,
    * q_multimodal_phash_near, q_multimodal_phash_balance, and the
    * phash_clusters build), and each re-decoded every image per call.
    * Pure function of the corpus, content-hash keyed (the
    * [[materializedPhashClusters]] discipline, one tier lower);
    * invariance is pinned by q_multimodal_phash's DuckDB twin, which
    * recomputes the grid lumas from the pixel formula end-to-end.
    */
  private[graft] def materializedPhashes(s: SparkSession, dir: String): DataFrame = {
    DerivedFiles(s, dir, "phashes_v1", "documents").parquet(phashes(s, dir))
  }

  def multimodalPhash(s: SparkSession, dir: String): DataFrame =
    materializedPhashes(s, dir)
      .withColumn("n_same", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("phash")))
      .orderBy("doc_id")

  /** #262 Perceptual near-duplicate pairs: hamming ≤ 3 over the 64-bit
    * dHash of every doc's frame 0, candidates from the SAME 4×16-bit
    * pigeonhole block join the SimHash dedup uses (3 differing bits
    * touch ≤ 3 chunks, so one chunk always matches — exhaustive, not
    * probabilistic), exact XOR-popcount confirm. This is image near-dup
    * as a first-class dedup stage: the REAL decode feeds the hash, the
    * hash feeds the standard LSH-block candidate shape. At corpus scale
    * hot chunk buckets would reuse [[DedupOps]]' two-level pigeonhole
    * refinement verbatim; the fixture's bucket sizes stay single-digit
    * (hash periodicity over doc_id is much coarser than the chunk
    * space).
    */
  def multimodalPhashNear(s: SparkSession, dir: String): DataFrame = {
    // derived-tier read (r21): both sides of the candidate self-join
    // read the materialized dHash relation; the per-call PNG re-decode
    // (formerly bounded by a localCheckpoint) is gone entirely
    val hashes = materializedPhashes(s, dir)
    val chunked = hashes.select(col("doc_id"), col("phash"),
      posexplode(array((0 until 4).map(c =>
        shiftrightunsigned(col("phash"), c * 16).bitwiseAND(lit(0xFFFFL))): _*))
        .as(Seq("chunk_idx", "chunk")))
    chunked.as("a").join(chunked.as("b"),
        col("a.chunk_idx") === col("b.chunk_idx") &&
          col("a.chunk") === col("b.chunk") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.phash").as("ha"), col("b.phash").as("hb"))
      .distinct()
      .withColumn("hamming", expr("bit_count(ha ^ hb)"))
      .filter(col("hamming") <= 3)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .orderBy("doc_a", "doc_b")
  }

  /** #457 Perceptual duplicate CLUSTERS: connected components over the
    * #262 phash near-dup pairs — the multimodal twin of the text-side
    * #71 components: candidate pairs alone leave the reviewer with
    * O(pairs) decisions, the transitive clusters are what image dedup
    * actually deletes against (keep min doc_id, drop the rest). Reuses
    * [[DedupOps.minLabelComponents]] (pointer-jumped min-label
    * propagation, exact fixpoint) over the hamming ≤ 3 edge list;
    * output = (doc_id, cluster) for every clustered image. Scale: the
    * edge list is the pigeonhole-blocked #262 relation; propagation
    * rounds are graph-diameter-bounded (tiny for near-dup clusters),
    * each one key-partitioned join + aggregate.
    */
  def multimodalPhashClusters(s: SparkSession, dir: String): DataFrame =
    materializedPhashClusters(s, dir)
      .select(col("doc_id"), col("cluster"))
      .orderBy("doc_id")

  /** Materialized phash cluster labels — the image-side twin of
    * [[DedupOps.componentLabels]]' discipline: labels are a pure
    * function of the corpus (deterministic phash edges + min-label
    * fixpoint), so the decode + near-join + propagation rounds run
    * ONCE per tmp lifetime and every consumer reads the parquet.
    */
  private[graft] def materializedPhashClusters(s: SparkSession, dir: String): DataFrame = {
    DerivedFiles(s, dir, "phash_clusters_v1", "documents").parquet {
      DedupOps.minLabelComponents(
          multimodalPhashNear(s, dir).select("doc_a", "doc_b"))
        .select(col("doc_id"), col("component").as("cluster"))
    }
  }

  // ---- audio: real RIFF/WAVE PCM16 codec --------------------------------

  case class AudioFeatures(doc_id: Long, n_samples: Long, energy: Long,
                           n_zero_cross: Long, peak: Long)

  /** Closed-form PCM16 sample — the audio analog of [[pixelR]]: signed,
    * ±1000 range, exercising the negative-sample byte encoding.
    */
  private[graft] def sampleAt(d: Long, i: Int): Int =
    (((d * 31 + i * 17) % 2001) - 1000).toInt

  private[graft] val WavRate = 16000

  /** Minimal but REAL RIFF/WAVE writer: 44-byte canonical header + mono
    * PCM16LE data chunk.
    */
  private[graft] def encodeWav(samples: Array[Short]): Array[Byte] = {
    val dataLen = samples.length * 2
    val bb = ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")); bb.putInt(36 + dataLen)
    bb.put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")); bb.putInt(16)
    bb.putShort(1); bb.putShort(1) // PCM, mono
    bb.putInt(WavRate); bb.putInt(WavRate * 2) // sample rate, byte rate
    bb.putShort(2); bb.putShort(16) // block align, bits/sample
    bb.put("data".getBytes("US-ASCII")); bb.putInt(dataLen)
    samples.foreach(bb.putShort)
    bb.array()
  }

  /** RIFF chunk-walking PCM16 reader. Validates the container (RIFF
    * length, WAVE form, PCM/mono/16-bit fmt chunk before data) rather
    * than assuming the fixed 44-byte layout — a truncated payload,
    * wrong block align, or byte-order defect fails loudly instead of
    * producing silently-wrong sums.
    */
  private[graft] def decodeWav(bytes: Array[Byte]): Array[Short] = {
    val bb = ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def tag(): String = {
      val b = new Array[Byte](4); bb.get(b); new String(b, "US-ASCII")
    }
    require(tag() == "RIFF", "not a RIFF container")
    require(bb.getInt() == bytes.length - 8, "RIFF length mismatch")
    require(tag() == "WAVE", "not a WAVE form")
    var fmtSeen = false
    var out: Array[Short] = null
    while (out == null && bb.remaining() >= 8) {
      val (id, len) = (tag(), bb.getInt())
      id match {
        case "fmt " =>
          require(len >= 16, "short fmt chunk")
          val (audioFmt, channels) = (bb.getShort(), bb.getShort())
          bb.getInt(); bb.getInt() // sample rate, byte rate
          val (blockAlign, bits) = (bb.getShort(), bb.getShort())
          require(audioFmt == 1 && channels == 1 && blockAlign == 2 && bits == 16,
            s"unsupported WAV: fmt=$audioFmt ch=$channels align=$blockAlign bits=$bits")
          bb.position(bb.position() + (len - 16))
          fmtSeen = true
        case "data" =>
          require(fmtSeen, "data chunk before fmt chunk")
          require(len % 2 == 0 && len <= bb.remaining(), "bad data chunk length")
          out = Array.fill(len / 2)(bb.getShort())
        case _ => bb.position(bb.position() + len) // skip unknown chunk
      }
    }
    require(out != null, "no data chunk")
    out
  }

  /** #256 ORACLE-ABLE audio decode: every `audio` doc synthesizes a real
    * WAV container executor-side from the closed-form PCM formula
    * (160 + doc_id % 81 samples), then the graded path decodes those
    * bytes back through the chunk-walking RIFF reader and reports exact
    * integer features: sample count, energy (Σs²), sign-change zero
    * crossings, and peak amplitude. DuckDB recomputes the same integer
    * sums directly from the formula over a generate_series — any codec
    * defect (header layout, LE byte order, sign extension, truncation)
    * breaks the hash match, the same contract as the PNG round trip.
    *
    * Scale: codec work is per-row inside mapPartitions (no shuffle, no
    * driver involvement); the unnest side is bounded at ≤240 samples
    * per doc so the oracle stays cheap at the graded scales.
    */
  def multimodalAudio(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir).select(col("doc_id")).filter(col("doc_id") % 3 === 1)
      .as[Long]
      .mapPartitions { it =>
        it.map { d =>
          val n = 160 + (d % 81).toInt
          val ss = decodeWav(encodeWav(Array.tabulate(n)(i => sampleAt(d, i).toShort)))
          var (energy, zc, peak) = (0L, 0L, 0L)
          var i = 0
          while (i < ss.length) {
            val v = ss(i).toLong
            energy += v * v
            if (math.abs(v) > peak) peak = math.abs(v)
            if (i > 0 && ((ss(i - 1) < 0) != (v < 0))) zc += 1
            i += 1
          }
          AudioFeatures(d, ss.length.toLong, energy, zc, peak)
        }
      }
      .toDF().orderBy("doc_id")
  }

  /** #494 pHash bit-balance audit: per bit position 0..63 of the #242
    * dHash, the ones-count across the corpus, its balance in ppm, and
    * the absolute deviation from 50% — computed through the REAL
    * PNG-decode + dHash path ([[phashes]]) and read out via
    * shiftrightunsigned (sign-safe on the int64-packed hash). The
    * hash-health audit the dedup family assumes silently: banding/
    * pigeonhole blocking (#262) gets its collision bounds from
    * near-uniform bits — a stuck bit (deviation → 500000) halves a
    * block's effective entropy and inflates every candidate bucket,
    * which is how a "slow LSH" problem is actually a "degenerate
    * hash" problem. The #481/#493 splitter audits, applied to the
    * perceptual hash. Scale: one hash scan × 64 exploded bits into a
    * 64-row aggregate.
    */
  def multimodalPhashBalance(s: SparkSession, dir: String): DataFrame =
    materializedPhashes(s, dir)
      .select(col("phash"),
        explode(expr("sequence(0, 63)")).as("bit_idx"))
      .groupBy("bit_idx")
      .agg(count(lit(1)).as("n_imgs"),
        sum(expr("shiftrightunsigned(phash, bit_idx) & 1")).as("n_ones"))
      .select(col("bit_idx").cast("long").as("bit_idx"), col("n_imgs"),
        col("n_ones"),
        expr("(n_ones * 1000000) div n_imgs").as("ones_ppm"))
      .withColumn("dev_ppm", abs(col("ones_ppm") - 500000L))
      .orderBy("bit_idx")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_multimodal_phash_balance" -> (multimodalPhashBalance _),
    "q_multimodal_audio" -> (multimodalAudio _),
    "q_multimodal_meta" -> (multimodalMeta _),
    "q_multimodal_decode" -> (multimodalDecode _),
    "q_multimodal_frames" -> (multimodalFrames _),
    "q_multimodal_resize" -> (multimodalResize _),
    "q_multimodal_phash" -> (multimodalPhash _),
    "q_multimodal_phash_near" -> (multimodalPhashNear _),
    "q_multimodal_phash_clusters" -> (multimodalPhashClusters _))

  // DuckDB twins recompute the closed-form pixel sums the Spark side must
  // reproduce through the real PNG encode/decode round trip (see object
  // scaladoc). Ranges are padded to the metadata maxima (w≤16, h≤9,
  // frames≤5) and filtered per doc — ≤ 720 generated cells per doc.
  val oracles: Map[String, String] = Map(
    "q_multimodal_audio" ->
      """WITH a AS (
        |  SELECT doc_id, 160 + doc_id % 81 AS n FROM documents WHERE doc_id % 3 = 1),
        |s AS (
        |  SELECT a.doc_id, i.i, a.n,
        |    ((a.doc_id * 31 + i.i * 17) % 2001) - 1000 AS v
        |  FROM a JOIN (SELECT unnest(generate_series(0, 240)) AS i) i ON i.i < a.n),
        |z AS (
        |  SELECT doc_id, n, i, v,
        |    lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
        |  FROM s)
        |SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_samples,
        |  CAST(SUM(v * v) AS BIGINT) AS energy,
        |  CAST(SUM(CASE WHEN pv IS NOT NULL AND ((pv < 0) <> (v < 0))
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_cross,
        |  CAST(MAX(abs(v)) AS BIGINT) AS peak
        |FROM z GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_multimodal_meta" ->
      """SELECT doc_id,
        |  ['img', 'audio', 'video'][CAST(doc_id % 3 + 1 AS INTEGER)] AS fmt,
        |  CAST(doc_id % 16 + 1 AS INTEGER) AS width,
        |  CAST(doc_id % 9 + 1 AS INTEGER) AS height,
        |  CAST(CASE WHEN doc_id % 3 = 2 THEN doc_id % 4 + 2 ELSE 1 END AS INTEGER) AS n_frames,
        |  CAST((doc_id % 16 + 1) * (doc_id % 9 + 1) AS INTEGER) AS pixels,
        |  CAST((doc_id % 16 + 1) * (doc_id % 9 + 1)
        |       * (CASE WHEN doc_id % 3 = 2 THEN doc_id % 4 + 2 ELSE 1 END) * 3
        |       AS INTEGER) AS raw_bytes
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_multimodal_decode" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    ['img', 'audio', 'video'][CAST(doc_id % 3 + 1 AS INTEGER)] AS fmt,
        |    CAST(doc_id % 16 + 1 AS INTEGER) AS w,
        |    CAST(doc_id % 9 + 1 AS INTEGER) AS h
        |  FROM documents)
        |SELECT doc_id, fmt, w AS w_px, h AS h_px,
        |  CAST(SUM((doc_id * 31 + x * 7 + y * 13) % 256) AS BIGINT) AS r_sum,
        |  CAST(SUM((doc_id * 17 + x * 5 + y * 3) % 256) AS BIGINT) AS g_sum,
        |  CAST(SUM((doc_id * 29 + x * 11 + y * 19) % 256) AS BIGINT) AS b_sum
        |FROM m CROSS JOIN range(16) rx(x) CROSS JOIN range(9) ry(y)
        |WHERE x < w AND y < h
        |GROUP BY doc_id, fmt, w, h ORDER BY doc_id""".stripMargin,
    "q_multimodal_frames" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    CAST(doc_id % 16 + 1 AS INTEGER) AS w,
        |    CAST(doc_id % 9 + 1 AS INTEGER) AS h,
        |    CAST(doc_id % 4 + 2 AS INTEGER) AS nf
        |  FROM documents WHERE doc_id % 3 = 2)
        |SELECT doc_id, CAST(nf AS BIGINT) AS n_frames,
        |  CAST(SUM((doc_id * 31 + f * 41 + x * 7 + y * 13) % 256) AS BIGINT) AS r_sum,
        |  CAST(SUM((doc_id * 17 + f * 23 + x * 5 + y * 3) % 256) AS BIGINT) AS g_sum,
        |  CAST(SUM((doc_id * 29 + f * 37 + x * 11 + y * 19) % 256) AS BIGINT) AS b_sum
        |FROM m CROSS JOIN range(5) rf(f)
        |     CROSS JOIN range(16) rx(x) CROSS JOIN range(9) ry(y)
        |WHERE f < nf AND x < w AND y < h
        |GROUP BY doc_id, nf ORDER BY doc_id""".stripMargin,
    "q_multimodal_phash_balance" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    CAST(doc_id % 16 + 1 AS INTEGER) AS w,
        |    CAST(doc_id % 9 + 1 AS INTEGER) AS h
        |  FROM documents),
        |grid AS (
        |  SELECT doc_id, gx, gy,
        |    ((77 * ((doc_id * 31 + ((gx * w) // 9) * 7 + ((gy * h) // 8) * 13) % 256)
        |    + 150 * ((doc_id * 17 + ((gx * w) // 9) * 5 + ((gy * h) // 8) * 3) % 256)
        |    + 29 * ((doc_id * 29 + ((gx * w) // 9) * 11 + ((gy * h) // 8) * 19) % 256)) // 256)
        |      AS luma
        |  FROM m CROSS JOIN range(9) rx(gx) CROSS JOIN range(8) ry(gy)),
        |bits AS (
        |  SELECT CAST(a.gy * 8 + a.gx AS BIGINT) AS bit_idx,
        |    CASE WHEN b.luma > a.luma THEN 1 ELSE 0 END AS one
        |  FROM grid a JOIN grid b
        |    ON a.doc_id = b.doc_id AND a.gy = b.gy AND b.gx = a.gx + 1
        |  WHERE a.gx < 8),
        |g AS (
        |  SELECT bit_idx, CAST(COUNT(*) AS BIGINT) AS n_imgs,
        |    CAST(SUM(one) AS BIGINT) AS n_ones
        |  FROM bits GROUP BY bit_idx)
        |SELECT bit_idx, n_imgs, n_ones,
        |  CAST((n_ones * 1000000) // n_imgs AS BIGINT) AS ones_ppm,
        |  abs(CAST((n_ones * 1000000) // n_imgs AS BIGINT) - 500000)
        |    AS dev_ppm
        |FROM g ORDER BY bit_idx""".stripMargin,
    "q_multimodal_phash" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    CAST(doc_id % 16 + 1 AS INTEGER) AS w,
        |    CAST(doc_id % 9 + 1 AS INTEGER) AS h
        |  FROM documents),
        |grid AS (
        |  SELECT doc_id, gx, gy,
        |    ((77 * ((doc_id * 31 + ((gx * w) // 9) * 7 + ((gy * h) // 8) * 13) % 256)
        |    + 150 * ((doc_id * 17 + ((gx * w) // 9) * 5 + ((gy * h) // 8) * 3) % 256)
        |    + 29 * ((doc_id * 29 + ((gx * w) // 9) * 11 + ((gy * h) // 8) * 19) % 256)) // 256)
        |      AS luma
        |  FROM m CROSS JOIN range(9) rx(gx) CROSS JOIN range(8) ry(gy)),
        |bits AS (
        |  SELECT a.doc_id,
        |    CASE WHEN b.luma > a.luma
        |         THEN CAST(1 AS HUGEINT) << (a.gy * 8 + a.gx)
        |         ELSE CAST(0 AS HUGEINT) END AS bit
        |  FROM grid a JOIN grid b
        |    ON a.doc_id = b.doc_id AND a.gy = b.gy AND b.gx = a.gx + 1
        |  WHERE a.gx < 8),
        |ph AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN s >= CAST(9223372036854775808 AS HUGEINT)
        |              THEN s - CAST(18446744073709551616 AS HUGEINT)
        |              ELSE s END AS BIGINT) AS phash
        |  FROM (SELECT doc_id, COALESCE(SUM(bit), CAST(0 AS HUGEINT)) AS s
        |        FROM bits GROUP BY doc_id))
        |SELECT doc_id, phash, COUNT(*) OVER (PARTITION BY phash) AS n_same
        |FROM ph ORDER BY doc_id""".stripMargin,
    "q_multimodal_phash_clusters" ->
      """WITH RECURSIVE m AS (
        |  SELECT doc_id,
        |    CAST(doc_id % 16 + 1 AS INTEGER) AS w,
        |    CAST(doc_id % 9 + 1 AS INTEGER) AS h
        |  FROM documents),
        |grid AS (
        |  SELECT doc_id, gx, gy,
        |    ((77 * ((doc_id * 31 + ((gx * w) // 9) * 7 + ((gy * h) // 8) * 13) % 256)
        |    + 150 * ((doc_id * 17 + ((gx * w) // 9) * 5 + ((gy * h) // 8) * 3) % 256)
        |    + 29 * ((doc_id * 29 + ((gx * w) // 9) * 11 + ((gy * h) // 8) * 19) % 256)) // 256)
        |      AS luma
        |  FROM m CROSS JOIN range(9) rx(gx) CROSS JOIN range(8) ry(gy)),
        |ph AS (
        |  SELECT doc_id, s
        |  FROM (
        |    SELECT a.doc_id, COALESCE(SUM(
        |      CASE WHEN b.luma > a.luma
        |           THEN CAST(1 AS HUGEINT) << (a.gy * 8 + a.gx)
        |           ELSE CAST(0 AS HUGEINT) END), CAST(0 AS HUGEINT)) AS s
        |    FROM grid a JOIN grid b
        |      ON a.doc_id = b.doc_id AND a.gy = b.gy AND b.gx = a.gx + 1
        |    WHERE a.gx < 8 GROUP BY a.doc_id)),
        |chunks AS (
        |  SELECT p.doc_id, p.s, c.ci,
        |    CAST((p.s // c.d) % 65536 AS BIGINT) AS chunk
        |  FROM ph p CROSS JOIN (VALUES
        |    (0, CAST(1 AS HUGEINT)), (1, CAST(65536 AS HUGEINT)),
        |    (2, CAST(4294967296 AS HUGEINT)),
        |    (3, CAST(281474976710656 AS HUGEINT))) c(ci, d)),
        |edges AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM chunks a JOIN chunks b
        |    ON a.ci = b.ci AND a.chunk = b.chunk AND a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.s, b.s)) <= 3),
        |sym AS (
        |  SELECT doc_a AS a, doc_b AS b FROM edges
        |  UNION SELECT doc_b, doc_a FROM edges),
        |reach(a, b) AS (
        |  SELECT a, b FROM sym
        |  UNION
        |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a)
        |SELECT a AS doc_id, least(a, min(b)) AS cluster
        |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin,
    "q_multimodal_phash_near" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    CAST(doc_id % 16 + 1 AS INTEGER) AS w,
        |    CAST(doc_id % 9 + 1 AS INTEGER) AS h
        |  FROM documents),
        |grid AS (
        |  SELECT doc_id, gx, gy,
        |    ((77 * ((doc_id * 31 + ((gx * w) // 9) * 7 + ((gy * h) // 8) * 13) % 256)
        |    + 150 * ((doc_id * 17 + ((gx * w) // 9) * 5 + ((gy * h) // 8) * 3) % 256)
        |    + 29 * ((doc_id * 29 + ((gx * w) // 9) * 11 + ((gy * h) // 8) * 19) % 256)) // 256)
        |      AS luma
        |  FROM m CROSS JOIN range(9) rx(gx) CROSS JOIN range(8) ry(gy)),
        |ph AS (
        |  SELECT doc_id, s,
        |    CAST(CASE WHEN s >= CAST(9223372036854775808 AS HUGEINT)
        |              THEN s - CAST(18446744073709551616 AS HUGEINT)
        |              ELSE s END AS BIGINT) AS phash
        |  FROM (
        |    SELECT a.doc_id, COALESCE(SUM(
        |      CASE WHEN b.luma > a.luma
        |           THEN CAST(1 AS HUGEINT) << (a.gy * 8 + a.gx)
        |           ELSE CAST(0 AS HUGEINT) END), CAST(0 AS HUGEINT)) AS s
        |    FROM grid a JOIN grid b
        |      ON a.doc_id = b.doc_id AND a.gy = b.gy AND b.gx = a.gx + 1
        |    WHERE a.gx < 8 GROUP BY a.doc_id)),
        |chunks AS (
        |  SELECT p.doc_id, p.phash, c.ci,
        |    CAST((p.s // c.d) % 65536 AS BIGINT) AS chunk
        |  FROM ph p CROSS JOIN (VALUES
        |    (0, CAST(1 AS HUGEINT)), (1, CAST(65536 AS HUGEINT)),
        |    (2, CAST(4294967296 AS HUGEINT)),
        |    (3, CAST(281474976710656 AS HUGEINT))) c(ci, d)),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    a.phash AS ha, b.phash AS hb
        |  FROM chunks a JOIN chunks b
        |    ON a.ci = b.ci AND a.chunk = b.chunk AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS INTEGER) AS hamming
        |FROM cand WHERE bit_count(xor(ha, hb)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q_multimodal_resize" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    GREATEST(1, CAST(doc_id % 16 + 1 AS INTEGER) // 2) AS ow,
        |    GREATEST(1, CAST(doc_id % 9 + 1 AS INTEGER) // 2) AS oh
        |  FROM documents WHERE doc_id % 3 = 0)
        |SELECT doc_id, CAST(ow AS INTEGER) AS w_px, CAST(oh AS INTEGER) AS h_px,
        |  CAST(SUM((doc_id * 31 + (2 * x) * 7 + (2 * y) * 13) % 256) AS BIGINT) AS r_sum,
        |  CAST(SUM((doc_id * 17 + (2 * x) * 5 + (2 * y) * 3) % 256) AS BIGINT) AS g_sum,
        |  CAST(SUM((doc_id * 29 + (2 * x) * 11 + (2 * y) * 19) % 256) AS BIGINT) AS b_sum
        |FROM m CROSS JOIN range(8) rx(x) CROSS JOIN range(4) ry(y)
        |WHERE x < ow AND y < oh
        |GROUP BY doc_id, ow, oh ORDER BY doc_id""".stripMargin)
}
