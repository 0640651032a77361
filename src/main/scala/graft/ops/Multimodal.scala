package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video as opaque `binary`
  * columns with typed metadata, decoded/featurized per partition.
  *
  * IMAGE decode is REAL: `javax.imageio` ships with the JDK and decodes
  * PNG/BMP with zero external codecs — `pngTable`/`decodeImage`/
  * `imageMeta` run a genuine encode→decode round trip inside
  * `mapPartitions` (one task per partition, no driver involvement).
  * AUDIO decode is REAL too: `javax.sound.sampled` ships WAV/PCM
  * support in the JDK — [[wavTable]]/[[wavFrameFeatures]] encode and
  * decode genuine RIFF/WAVE files through `AudioSystem`. Only VIDEO
  * decode remains a clearly-marked deterministic STUB
  * (`decodeImageStub` naming kept for compatibility): video codecs
  * genuinely don't exist in this container. Swapping the stub for
  * ffmpeg bindings changes no plan shape — the mapPartitions batch
  * iterator is exactly where the codec runs.
  */
object Multimodal {

  // ImageIO's default read/write path buffers through a DISK-backed
  // cache (a temp file created and deleted per codec call) — pure
  // overhead for the ≤16×16 images here and a point of filesystem
  // contention once the codec stages run on all cores (round 16).
  // Static, process-wide, affects buffering strategy only — decoded
  // bytes are identical.
  javax.imageio.ImageIO.setUseCache(false)

  /** Scale-adaptive spread of the slim doc_id frame feeding a codec
    * mapPartitions (round 16): the synthesized media tables derive from
    * a one-row-group parquet scan, i.e. ONE task — so every
    * encode/decode pass (ImageIO, AudioSystem) ran on a single core.
    * No-op whenever the upstream scan is already parallel (the 100 TB
    * case), so no shuffle is added at scale; locally it moves 8 bytes
    * per row once and parallelizes four codec passes.
    */
  private def spread(ids: DataFrame): DataFrame =
    Dedup.spreadForCompute(ids, col("doc_id"))

  /** Synthesize a deterministic media table from `documents`: payload =
    * utf-8 bytes of the text, mime cycled by doc_id. Stands in for a
    * parquet table with real binary media columns.
    */
  def mediaTable(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      col("text").cast(BinaryType).as("payload"),
      when(col("doc_id") % 3 === 0, "image/png")
        .when(col("doc_id") % 3 === 1, "audio/wav")
        .otherwise("video/mp4").as("mime"))

  /** Typed metadata from the payload — pure Column DSL, pushdown-safe.
    * Width/height/duration derive deterministically from the byte length
    * (the STUB for header parsing).
    */
  def mediaMeta(media: DataFrame): DataFrame = {
    val size = length(col("payload"))
    media.select(
      col("doc_id"), col("mime"),
      size.as("size_bytes"),
      when(col("mime").startsWith("image"), lit(64) + size % 512)
        .otherwise(lit(null).cast("integer")).as("width"),
      when(col("mime").startsWith("image"), lit(64) + (size * 7) % 512)
        .otherwise(lit(null).cast("integer")).as("height"),
      when(!col("mime").startsWith("image"), size * 10)
        .otherwise(lit(null).cast("long")).as("duration_ms"))
  }

  /** Frame sampling: cut the payload into fixed-size frames (first
    * `maxFrames`), one row per frame — binary-native substring, the
    * shape a video pipeline uses for keyframe extraction.
    */
  def frameSample(media: DataFrame, frameSize: Int, maxFrames: Int): DataFrame = {
    val nFrames = least(ceil(length(col("payload")).cast("double") / frameSize).cast("int"),
      lit(maxFrames))
    media
      .withColumn("frame_idx", explode(sequence(lit(0), nFrames - 1)))
      .select(
        col("doc_id"), col("frame_idx"),
        substring(col("payload"), col("frame_idx") * frameSize + 1, lit(frameSize)).as("frame_bytes"))
      .withColumn("frame_md5", md5(col("frame_bytes")))
  }

  /** STUB decode for VIDEO — deterministic fake standing in for a codec
    * (ffmpeg et al. genuinely absent from this container). Image decode
    * does NOT use this (see `decodeImage`), and audio decode is real
    * too (see [[wavFrameFeatures]]).
    */
  def decodeImageStub(payload: Array[Byte]): (Int, Int, Long) = {
    val size = payload.length
    val checksum = payload.foldLeft(0L)((a, b) => a * 31 + (b & 0xff))
    (64 + size % 512, 64 + (size * 7) % 512, checksum)
  }

  // ---- real image decode (JDK javax.imageio) -----------------------------

  /** Deterministic tiny PNG per doc: width `1 + doc_id % 16`, height
    * `1 + (doc_id*7) % 16`, solid RGB fill `(doc_id * 2654435761) %
    * 2^24` — a REAL encoded PNG (javax.imageio), so downstream decode
    * exercises an actual codec, and an oracle can predict the decoded
    * dimensions from doc_id alone. Runs inside mapPartitions like any
    * ingest-side transcode.
    */
  def pngTable(docs: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("payload", BinaryType)))
    spread(docs.select(col("doc_id"))).mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val w = 1 + (id % 16).toInt
        val h = 1 + ((id * 7) % 16).toInt
        val rgb = ((id * 2654435761L) & 0xffffffL).toInt
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) { img.setRGB(x, y, rgb); x += 1 }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        Row(id, bos.toByteArray)
      }
    }(Encoders.row(outSchema))
  }

  /** REAL image decode via the JDK codec: (width, height, top-left RGB).
    * Returns null for undecodable payloads (the per-record error
    * isolation the reference applies to bad events, ST8).
    */
  def decodeImage(payload: Array[Byte]): (Int, Int, Int) = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
    if (img == null) null
    else (img.getWidth, img.getHeight, img.getRGB(0, 0) & 0xffffff)
  }

  /** Decoded image metadata over a (doc_id, payload) binary-column
    * table — `mapPartitions` + ImageIO, the codec seam; undecodable
    * rows are dropped rather than failing the task.
    */
  def imageMeta(media: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("rgb0", IntegerType)))
    val idIdx = media.schema.fieldIndex("doc_id")
    val payloadIdx = media.schema.fieldIndex("payload")
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        Option(decodeImage(r.getAs[Array[Byte]](payloadIdx))).map {
          case (w, h, rgb) => Row(r.getLong(idIdx), w, h, rgb)
        }
      }
    }(Encoders.row(outSchema))
  }

  /** REAL image resize: decode (ImageIO) → nearest-neighbor resample →
    * re-encode PNG, per partition. Deterministic pixel math (integer
    * source-index mapping, no interpolation rounding), so downstream
    * decode of the output is oracle-predictable for solid-color inputs.
    * Undecodable payloads are dropped (ST8 per-record isolation).
    */
  def resizeImages(media: DataFrame, outW: Int, outH: Int): DataFrame = {
    require(outW > 0 && outH > 0, "output dims must be positive")
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("payload", BinaryType)))
    val idIdx = media.schema.fieldIndex("doc_id")
    val payloadIdx = media.schema.fieldIndex("payload")
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](payloadIdx)))
        if (img == null) None
        else {
          val out = new java.awt.image.BufferedImage(
            outW, outH, java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < outH) {
            val sy = y * img.getHeight / outH
            var x = 0
            while (x < outW) {
              out.setRGB(x, y, img.getRGB(x * img.getWidth / outW, sy))
              x += 1
            }
            y += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(out, "png", bos)
          Some(Row(r.getLong(idIdx), bos.toByteArray))
        }
      }
    }(Encoders.row(outSchema))
  }

  /** Per-partition featurization: byte histogram (2^4 buckets) — the
    * imperative batch path where a real model/codec would run. One task
    * per partition; no data moves to the driver.
    */
  def byteHistogram(media: DataFrame, buckets: Int = 16): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("n_bytes", IntegerType),
      StructField("histogram", ArrayType(LongType))))
    val payloadIdx = media.schema.fieldIndex("payload")
    val idIdx = media.schema.fieldIndex("doc_id")
    val width = 256 / buckets
    media.mapPartitions { rows =>
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]](payloadIdx)
        val hist = new Array[Long](buckets)
        var i = 0
        while (i < bytes.length) {
          hist((bytes(i) & 0xff) / width) += 1
          i += 1
        }
        Row(r.getLong(idIdx), bytes.length, hist.toSeq)
      }
    }(Encoders.row(outSchema))
  }

  /** Deterministic fake embedding from payload md5 — plumbs media rows
    * into the Similarity operators (shape/partitioning real, values
    * stubbed).
    */
  def fakeEmbedding(media: DataFrame, dims: Int = 8): DataFrame = {
    val h = md5(col("payload"))
    val vec = array((0 until dims).map { i =>
      ((conv(substring(h, i * 2 + 1, 2), 16, 10).cast("double") - 127.5) / 127.5).cast("float")
    }: _*)
    media.select(col("doc_id").as("vec_id"), vec.as("embedding"))
  }

  /** Gradient gray value at (x, y) for gradient class `cls` — the
    * shared arithmetic between [[gradientPngTable]]'s pixel fill and
    * the oracle's prediction.
    */
  def gradientValue(cls: Long, x: Int, y: Int): Int =
    (((1 + cls % 7) * x * x + (1 + cls % 11) * y * y + (cls % 13) * x * y
      + cls * 17) % 256).toInt

  /** Deterministic 16×16 grayscale-gradient PNGs: docs sharing
    * `doc_id % 50` render the IDENTICAL image (a quadratic gradient per
    * class), so perceptual-hash dedup downstream has planted duplicate
    * structure an oracle can predict arithmetically — while the bytes
    * each task handles are genuine codec output.
    */
  def gradientPngTable(docs: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("payload", BinaryType)))
    spread(docs.select(col("doc_id"))).mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val cls = id % 50
        val img = new java.awt.image.BufferedImage(
          16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < 16) {
          var x = 0
          while (x < 16) {
            val v = gradientValue(cls, x, y)
            img.setRGB(x, y, (v << 16) | (v << 8) | v)
            x += 1
          }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        Row(id, bos.toByteArray)
      }
    }(Encoders.row(outSchema))
  }

  /** [[gradientPngTable]] with a one-pixel "retouch": pixel (14, 0) is
    * painted white. Column 14 is sampled ONLY as the right operand of
    * dHash bit (x=7, y=0) (sx1 = 8·16/9 = 14, sy = 0), so the
    * retouched image's 64-bit dHash differs from its class's by AT
    * MOST one bit — the planted near-duplicate (a re-encoded /
    * lightly-edited variant of a stored image) that perceptual
    * NEAR-dup matching exists to catch and exact-hash grouping (mm5)
    * cannot.
    */
  def gradientPngTableRetouched(docs: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("payload", BinaryType)))
    spread(docs.select(col("doc_id"))).mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val cls = id % 50
        val img = new java.awt.image.BufferedImage(
          16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < 16) {
          var x = 0
          while (x < 16) {
            val v = if (x == 14 && y == 0) 255 else gradientValue(cls, x, y)
            img.setRGB(x, y, (v << 16) | (v << 8) | v)
            x += 1
          }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        Row(id, bos.toByteArray)
      }
    }(Encoders.row(outSchema))
  }

  /** Perceptual NEAR-dup probe via Hamming-band blocking — the image
    * analog of the MinHash band join: to find every stored image
    * within Hamming distance ≤ `maxDist` of each probe's dHash, split
    * the 64-bit hash into `maxDist + 1` contiguous bands; by
    * pigeonhole, any pair within the distance budget agrees EXACTLY on
    * at least one band, so a band equi-join produces a candidate
    * superset with ZERO false negatives and the codegen'd
    * `bit_count(xor)` verification removes band-only collisions.
    * Never a quadratic stage: candidates per probe ≈ corpus / 2^bandBits
    * per band under dispersed hashes. (A degenerate hot band value —
    * e.g. an all-zero band from flat images — skews the join like any
    * hot key; salt it or pre-split frequent band values if a corpus
    * exhibits one.) Posture note for SELF-joins: with 16-bit bands,
    * accidental band collisions grow Θ(n²/2¹⁶) once the corpus
    * approaches 2^bandBits rows per band — at that scale either keep
    * the probe-vs-corpus serve shape (cost linear in the corpus for a
    * bounded probe set; PLANS.md records its scaling) or widen bands /
    * multi-index the way production image-dedup systems do.
    *
    * Inputs are (doc_id, phash) frames ([[dHash64]]'s shape); output:
    * (probe_id, match_id, hamming_dist), one row per qualifying pair.
    */
  def dHashNearDupPairs(
      corpus: DataFrame, probes: DataFrame, maxDist: Int): DataFrame = {
    require(maxDist >= 0 && maxDist < 64, s"maxDist $maxDist out of range")
    val bands = maxDist + 1
    val width = (64 + bands - 1) / bands // ceil: pigeonhole needs ≥1 full cover
    def banded(df: DataFrame, idAs: String, hashAs: String): DataFrame =
      df.select(col("doc_id").as(idAs), col("phash").as(hashAs),
        posexplode(array((0 until bands).map { i =>
          // arithmetic shift + mask: identical band bits whether or not
          // bit 63 (the sign) is set
          shiftright(col("phash"), i * width)
            .bitwiseAND(lit((1L << math.min(width, 63)) - 1L))
        }: _*)).as(Seq("band", "band_key")))
    banded(corpus, "match_id", "c_hash")
      .join(banded(probes, "probe_id", "p_hash"), Seq("band", "band_key"))
      .select(col("probe_id"), col("match_id"), col("p_hash"), col("c_hash"))
      .distinct() // a close pair agrees on MANY bands — emit it once
      .withColumn("hamming_dist",
        bit_count(col("p_hash").bitwiseXOR(col("c_hash"))))
      .filter(col("hamming_dist") <= maxDist)
      .select(col("probe_id"), col("match_id"), col("hamming_dist"))
  }

  // ---- real audio decode (JDK javax.sound.sampled) -----------------------

  /** The synthesized sample value at index `i` for document `id` — the
    * shared arithmetic between [[wavTable]]'s PCM fill and the oracle's
    * prediction. Deterministic pseudo-noise in [-1000, 1000].
    */
  def wavSample(id: Long, i: Int): Int =
    (((id * 31 + i.toLong * i * 7) % 2001) - 1000).toInt

  /** [[wavSample]] with every third 160-sample frame MUTED (staggered
    * by doc id) — the speech-with-pauses fixture [[energySegments]]'
    * oracle predicts analytically: frame f of doc d is silence iff
    * (d + f) % 3 == 0, so docs carry distinct active/silent patterns
    * (single runs, split runs, short runs for the debounce to drop).
    */
  def wavGatedSample(id: Long, i: Int, frameSize: Int = 160): Int =
    if ((id + i / frameSize) % 3 == 0) 0 else wavSample(id, i)

  /** [[wavSample]] keyed by a PAIR group (g = doc_id / 2) with one
    * per-parity perturbed frame — plants near-identical segments across
    * clip PAIRS for the segment near-dup composition (mm9): docs 2k and
    * 2k+1 share the gating pattern ((g + f) % 5 == 0 mutes frame f) and
    * every frame's content EXCEPT one frame each (frame 2 for even ids,
    * frame 5 for odd — when that frame isn't muted for the group), so
    * their matching segments sit at high-but-inexact Jaccard, while
    * cross-pair frame content never coincides. Smallest planted overlap:
    * a perturbed frame inside a 3-frame island ⇒ Jaccard 2/4 = 0.5.
    */
  def wavPairSample(id: Long, i: Int, frameSize: Int = 160): Int = {
    val g = id / 2
    val f = i / frameSize
    if ((g + f) % 5 == 0) 0
    else if (f == (id % 2) * 3 + 2)
      (((id * 13 + i.toLong * 11) % 2001) - 1000).toInt
    else (((g * 31 + i.toLong * i * 7) % 2001) - 1000).toInt
  }

  /** Deterministic WAV per doc: `nSamples` of 16-bit mono PCM at 8 kHz,
    * sample i = `sampleFn`(doc_id, i) (default [[wavSample]]), encoded
    * as a REAL RIFF/WAVE file via `javax.sound.sampled.AudioSystem` —
    * so downstream decode exercises the actual JDK audio stack, and an
    * oracle predicts every decoded sample from doc_id alone. Runs
    * inside mapPartitions like any ingest-side transcode.
    */
  def wavTable(docs: DataFrame, nSamples: Int = 640,
      sampleFn: (Long, Int) => Int = wavSample): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("payload", BinaryType)))
    // deliberately NOT spread (round-16 negative A/B): unlike the
    // ImageIO png tables (mm4 2.33→1.18 from spreading), the wav path
    // measured a wash — same-session-order draws [8.64,1.98,1.75]
    // spread vs [9.00,2.09,1.87] unspread (mm10 cold/warm/warm) — the
    // AudioSystem encode is cheap next to mm10's downstream pair stage,
    // so the extra exchange buys nothing; left on the scan partitioning
    docs.select(col("doc_id")).mapPartitions { rows =>
      val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
      rows.map { r =>
        val id = r.getLong(0)
        val pcm = new Array[Byte](nSamples * 2)
        var i = 0
        while (i < nSamples) {
          val v = sampleFn(id, i)
          pcm(2 * i) = (v & 0xff).toByte
          pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
          i += 1
        }
        val ais = new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, nSamples.toLong)
        val bos = new java.io.ByteArrayOutputStream()
        javax.sound.sampled.AudioSystem.write(
          ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
        Row(id, bos.toByteArray)
      }
    }(Encoders.row(outSchema))
  }

  /** REAL audio decode + per-frame featurization: parse the WAV through
    * `AudioSystem.getAudioInputStream` (header, format, endianness all
    * from the actual decoder — nothing assumed from the synthesis
    * side), then window the 16-bit PCM stream into `frameSize`-sample
    * frames and emit the features a speech/audio curation pipeline
    * keys on: peak amplitude and energy (Σ sample²). Undecodable
    * payloads are dropped (ST8 per-record isolation). Output:
    * (doc_id, frame_idx, n_samples, peak, energy).
    */
  def wavFrameFeatures(media: DataFrame, frameSize: Int = 160): DataFrame = {
    require(frameSize > 0, "frameSize must be positive")
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("frame_idx", LongType),
      StructField("n_samples", LongType),
      StructField("peak", LongType),
      StructField("energy", LongType)))
    val idIdx = media.schema.fieldIndex("doc_id")
    val payloadIdx = media.schema.fieldIndex("payload")
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        try {
          val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](payloadIdx)))
          val fmt = ais.getFormat
          if (fmt.getSampleSizeInBits != 16 ||
            fmt.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED) Nil
          else {
            val bytes = ais.readAllBytes()
            val step = fmt.getFrameSize // bytes per frame (2·channels)
            val n = bytes.length / step
            val frames = Iterator.range(0, n, frameSize).zipWithIndex.map {
              case (start, idx) =>
                val end = math.min(start + frameSize, n)
                var peak = 0L; var energy = 0L
                var i = start
                while (i < end) {
                  // first channel of frame i, per the DECODER's format
                  val v =
                    if (fmt.isBigEndian) (bytes(i * step) << 8) | (bytes(i * step + 1) & 0xff)
                    else (bytes(i * step + 1) << 8) | (bytes(i * step) & 0xff)
                  val a = math.abs(v.toLong)
                  if (a > peak) peak = a
                  energy += v.toLong * v
                  i += 1
                }
                Row(r.getLong(idIdx), idx.toLong, (end - start).toLong, peak, energy)
            }
            frames.toVector
          }
        } catch { case _: Exception => Nil } // not a WAV → drop, don't fail the task
      }
    }(Encoders.row(outSchema))
  }

  /** Energy-gated segmentation over decoded audio frames — the
    * VAD-shaped step of a speech curation pipeline: frames with
    * energy > `threshold` are ACTIVE, maximal runs of consecutive
    * active frames per doc become segments, and segments shorter than
    * `minFrames` drop (debounce — clicks aren't speech). Input is
    * [[wavFrameFeatures]]' (doc_id, frame_idx, …, energy) shape.
    *
    * Plan: gaps-and-islands with doc-partitioned windows (a doc is one
    * clip, so partitions are clip-bounded — no dominant-group trap) —
    * segment-start markers from one `lag`, island ids from a running
    * sum over the SAME partitioning (one exchange serves both), one
    * aggregation, then a per-doc renumber after the debounce. Output:
    * (doc_id, seg_idx, start_frame, end_frame, n_frames, energy).
    */
  def energySegments(frames: DataFrame, threshold: Long,
      minFrames: Int = 1): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("frame_idx"))
    val marked = frames
      .withColumn("__act", col("energy") > threshold)
      .withColumn("__new",
        when(col("__act") &&
          !coalesce(lag(col("__act"), 1).over(w), lit(false)), 1L)
          .otherwise(0L))
      .withColumn("__seg",
        sum(col("__new")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .filter(col("__act"))
    marked.groupBy(col("doc_id"), col("__seg"))
      .agg(min(col("frame_idx")).as("start_frame"),
        max(col("frame_idx")).as("end_frame"),
        count(lit(1)).as("n_frames"),
        sum(col("energy")).as("energy"))
      .filter(col("n_frames") >= minFrames)
      .withColumn("seg_idx", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("start_frame")))
        .cast("long"))
      .select(col("doc_id"), col("seg_idx"), col("start_frame"),
        col("end_frame"), col("n_frames"), col("energy"))
  }

  /** Segment-level audio near-dup pairs — the dedup-ladder treatment
    * ([[graft.ops.Dedup]]'s inverted-index blocking, dd4's shape)
    * applied to [[energySegments]]' output: each segment becomes the
    * SET of its frames' content fingerprints (energy:peak — position-
    * independent, so a re-cut clip still matches), candidate pairs
    * block on a shared fingerprint, and survivors verify by exact
    * Jaccard ≥ `minJaccard6`/10⁶ over the two sets. Cross-doc only
    * (`doc_id1 < doc_id2`).
    *
    * Scale: the explode is segment-bounded; the candidate join is an
    * inverted-index self-join on the fingerprint (never all-pairs —
    * only segments SHARING a frame meet), and set sizes join back as
    * plain equi-joins (no broadcast hint: the sizes table is
    * O(segments) — data-sized — so AQE must be free to shuffle it; at
    * low cardinality it broadcasts on its own). The whole thing is the
    * n-gram Jaccard plan with frames for shingles. Output: (doc_id1,
    * seg_idx1, doc_id2, seg_idx2, n_inter, jaccard6).
    */
  def segmentNearDupPairs(frames: DataFrame, segs: DataFrame,
      minJaccard6: Long): DataFrame = {
    val tok = frames.select(col("doc_id"), col("frame_idx"),
        concat_ws(":", col("energy"), col("peak")).as("tok"))
      .join(segs.select(col("doc_id"), col("seg_idx"),
        col("start_frame"), col("end_frame")), Seq("doc_id"))
      .filter(col("frame_idx").between(col("start_frame"), col("end_frame")))
      .select(col("doc_id"), col("seg_idx"), col("tok"))
      .distinct()
      // three consumers (sizes + both join sides): pin it, or each one
      // re-runs the frame join — and upstream, the WAV decode itself
      .localCheckpoint(true)
    val sizes = tok.groupBy(col("doc_id"), col("seg_idx"))
      .agg(count(lit(1)).as("n_tok"))
    val x = tok.toDF("doc_id1", "seg_idx1", "tok")
    val y = tok.toDF("doc_id2", "seg_idx2", "tok")
    x.join(y, Seq("tok"))
      .filter(col("doc_id1") < col("doc_id2"))
      .groupBy(col("doc_id1"), col("seg_idx1"), col("doc_id2"), col("seg_idx2"))
      .agg(count(lit(1)).as("n_inter"))
      .join(sizes.toDF("doc_id1", "seg_idx1", "n1"),
        Seq("doc_id1", "seg_idx1"))
      .join(sizes.toDF("doc_id2", "seg_idx2", "n2"),
        Seq("doc_id2", "seg_idx2"))
      .withColumn("jaccard6",
        floor(col("n_inter").cast("double") * 1000000.0
          / (col("n1") + col("n2") - col("n_inter")) + 0.5).cast("long"))
      .filter(col("jaccard6") >= minJaccard6)
      .select(col("doc_id1"), col("seg_idx1"), col("doc_id2"),
        col("seg_idx2"), col("n_inter"), col("jaccard6"))
  }

  /** Keep-one canonicalization over [[segmentNearDupPairs]]' output —
    * the audio ladder's dd6/dd7 closure: near-dup segment PAIRS become
    * connected COMPONENTS ([[graft.ops.Dedup.alternatingStarComponents]],
    * the same O(log n)-round star contraction the text family uses,
    * over (doc_id, seg_idx) nodes packed into one long — seg_idx is
    * frame-bounded ≪ 100 by construction), and each component elects
    * ONE surviving segment: highest energy (keep the fullest
    * recording), ties broken on smallest (doc_id, seg_idx) so the
    * election is total-order deterministic. Output: every segment with
    * its survivor — (doc_id, seg_idx, keep_doc_id, keep_seg_idx);
    * singletons keep themselves.
    *
    * Scale: components ride the contraction's edge-set state (never a
    * label table over all nodes per round); the best-of election is
    * one groupBy over O(segments) rows + an equi-join back — no
    * windows over the corpus, no driver-side component walk.
    */
  def segmentCanonical(segs: DataFrame, pairs: DataFrame): DataFrame = {
    // the packing invariant fails LOUDLY: energySegments bounds seg_idx
    // ≪ 100 by construction today, but a caller feeding segments from
    // elsewhere (or a future frame-count change) must not silently
    // collide node ids and merge unrelated components — coalesce routes
    // any out-of-band seg_idx to raise_error instead
    def node(d: Column, s: Column): Column =
      coalesce(when(s >= 0L && s < 100L, d * 100L + s),
        raise_error(concat(lit("segmentCanonical: seg_idx "), s.cast("string"),
          lit(" outside [0,100) breaks (doc,seg) node packing"))).cast("long"))
    val ids = segs.select(node(col("doc_id"), col("seg_idx")).as("nid"),
      col("doc_id"), col("seg_idx"), col("energy"))
    val p = pairs.select(
      node(col("doc_id1"), col("seg_idx1")).as("id_a"),
      node(col("doc_id2"), col("seg_idx2")).as("id_b"))
    val comp = graft.ops.Dedup.alternatingStarComponents(p, ids, "nid")
    val labeled = ids.join(comp, Seq("nid"))
    // struct min = lexicographic (−energy, doc, seg): the argmax-with-
    // tie-break in ONE aggregate, no window over the corpus
    val best = labeled.groupBy(col("canonical_id"))
      .agg(min(struct((lit(0L) - col("energy")).as("ne"),
        col("doc_id").as("d"), col("seg_idx").as("s"))).as("b"))
      .select(col("canonical_id"),
        col("b.d").as("keep_doc_id"), col("b.s").as("keep_seg_idx"))
    labeled.join(best, Seq("canonical_id"))
      .select(col("doc_id"), col("seg_idx"),
        col("keep_doc_id"), col("keep_seg_idx"))
  }

  /** 64-bit perceptual difference hash (dHash) over the REAL decoded
    * pixels: nearest-neighbor downsample to 9×8 grays (the same
    * integer index math as [[resizeImages]]: src = dst·size/out), then
    * bit (x, y) = gray(x+1, y) > gray(x, y) — the standard
    * brightness-gradient fingerprint image dedup pipelines use (robust
    * to re-encoding and resampling; equal hashes ⇒ perceptual dups).
    * Codec seam via mapPartitions like every Multimodal decode.
    */
  def dHash64(media: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("phash", LongType)))
    val idIdx = media.schema.fieldIndex("doc_id")
    val payloadIdx = media.schema.fieldIndex("payload")
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](payloadIdx)))
        if (img == null) None
        else {
          val g = Array.ofDim[Int](8, 9)
          var y = 0
          while (y < 8) {
            val sy = y * img.getHeight / 8
            var x = 0
            while (x < 9) {
              val rgb = img.getRGB(x * img.getWidth / 9, sy)
              g(y)(x) = ((rgb >> 16 & 0xff) + (rgb >> 8 & 0xff) + (rgb & 0xff)) / 3
              x += 1
            }
            y += 1
          }
          var hash = 0L
          var yy = 0
          while (yy < 8) {
            var xx = 0
            while (xx < 8) {
              if (g(yy)(xx + 1) > g(yy)(xx)) hash |= 1L << (yy * 8 + xx)
              xx += 1
            }
            yy += 1
          }
          Some(Row(r.getLong(idIdx), hash))
        }
      }
    }(Encoders.row(outSchema))
  }
}
