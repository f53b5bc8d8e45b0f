package graft.engine.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Tables
import graft.engine.ops.{Checkpoints, QueryDef}

/** Multimodal column plumbing (north-star): media as opaque `binary`
  * columns with typed metadata, processed in partition-batches.
  *
  * The decode step is REAL: images are genuine PNG bytes produced and
  * parsed by the JDK's `javax.imageio` (no external codecs needed), so
  * `mm_decode`/`mm_frames` exercise an actual encode → bytes → decode
  * round trip. The pixels are painted by a closed-form rule
  * (`(x + y + seed) % 256` grayscale), which makes every decoded
  * width/height/pixel-sum recomputable in pure SQL — the DuckDB oracle
  * proves the codec path end to end: if the decoder misread a single
  * pixel or dimension, the hash gate fails.
  *
  * The testdata ships no media files, so the media BYTES are
  * synthesized in-engine (deterministically, from `doc_id`): the
  * shapes under test — (id, kind, content, meta-struct) schema,
  * binary-column projection/pruning, partition-iterator batching via
  * `mapPartitions` (one decoder instance per partition, streamed row
  * batches, no per-row setup cost — the JVM analog of `mapInPandas`),
  * fixed-size frame chunking/sampling — are exactly what a real corpus
  * needs; only the byte provenance is synthetic.
  *
  * Scale notes: content bytes never pass through a shuffle — every
  * transform here is map-only; metadata-only outputs drop the binary
  * column as early as possible so downstream stages shuffle narrow
  * rows. At 100 TB the media table would be parquet with the binary
  * column in its own column chunk, so metadata queries never read
  * bytes at all (column pruning).
  */
object Multimodal {

  /** One media row: bytes + the typed metadata a real pipeline carries. */
  case class Media(media_id: Long, kind: String, content: Array[Byte])
  case class ImageMeta(media_id: Long, width: Int, height: Int,
      n_pixels: Long, lum_sum: Long)
  case class Frames(media_id: Long, n_frames: Int, sampled_frames: Int,
      sampled_lum_sum: Long)

  /** REAL JDK codec (`javax.imageio`, zero extra dependencies): PNG
    * encode of a deterministically painted grayscale image, and true
    * byte-stream decode back to dimensions + pixel sum. A production
    * deployment swaps the PAINTER for real content; the decode path is
    * already the real thing. */
  object Codec {
    // imageio defaults to a disk-backed stream cache per call — pure
    // memory is both faster and safer under 32 concurrent tasks
    javax.imageio.ImageIO.setUseCache(false)

    /** w×h PNG whose pixel (x, y) is gray `(x + y + seed) % 256` —
      * closed form, so an oracle can recompute the decoded sums. */
    def encodePng(w: Int, h: Int, seed: Long): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      // r19: bulk setRGB — the per-pixel setRGB call pays a color-model
      // conversion per PIXEL; one bulk write stores the identical ints
      // into the same TYPE_INT_RGB raster (same pixels → byte-identical
      // PNG, mm_meta's sha2 digest gate pins it)
      val px = new Array[Int](w * h)
      var y = 0
      var i = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          px(i) = ((x + y + seed) % 256).toInt * 0x010101
          i += 1
          x += 1
        }
        y += 1
      }
      img.setRGB(0, 0, w, h, px, 0, w)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }

    /** Parse image bytes (any imageio-supported container; trailing
      * padding after the PNG IEND chunk is ignored by the reader) →
      * (width, height, sum of 8-bit luminance over all pixels). */
    def decodeImage(bytes: Array[Byte]): (Int, Int, Long) = {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      require(img != null, "undecodable image bytes")
      val (w, h) = (img.getWidth, img.getHeight)
      // r19: bulk getRGB — identical per-pixel ints to the getRGB(x, y)
      // loop (same sRGB conversion path), one call instead of w·h
      val px = img.getRGB(0, 0, w, h, null, 0, w)
      var sum = 0L
      var i = 0
      while (i < px.length) { sum += (px(i) & 0xff); i += 1 }
      (w, h, sum)
    }

    /** 64-bit perceptual fingerprint (average-hash family) of REAL
      * image bytes: decode, point-sample an 8×8 grid at
      * `(i·(w DIV 8), j·(h DIV 8))`, bit (i·8 + j) = sample ≥ 128.
      * Packed as two 32-bit halves (lo = bits 0..31, hi = 32..63) so
      * the BIGINT arithmetic never touches the sign bit in either
      * engine. Production swaps point-sampling for block means + DCT
      * (pHash proper); the index/bucketing machinery is identical. */
    def phash(bytes: Array[Byte]): (Long, Long) = {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      require(img != null, "undecodable image bytes")
      val (sx, sy) = (img.getWidth / 8, img.getHeight / 8)
      require(sx > 0 && sy > 0, "phash needs at least 8x8 pixels")
      var lo = 0L
      var hi = 0L
      var i = 0
      while (i < 8) {
        var j = 0
        while (j < 8) {
          if ((img.getRGB(i * sx, j * sy) & 0xff) >= 128) {
            val b = i * 8 + j
            if (b < 32) lo |= 1L << b else hi |= 1L << (b - 32)
          }
          j += 1
        }
        i += 1
      }
      (lo, hi)
    }

    /** Aspect-preserving bound of the long side (integer floor — the
      * resize PLAN; actual resampling happens at training-prep time). */
    def resize(w: Int, h: Int, maxSide: Int): (Int, Int) = {
      val side = math.max(w, h)
      if (side <= maxSide) (w, h)
      else ((w.toLong * maxSide / side).toInt, (h.toLong * maxSide / side).toInt)
    }
  }

  /** Synthesized opaque-bytes media table over `documents`: text bytes
    * stand in for media content (binary column), kind round-robins
    * image/audio/video. Metadata ops (`mm_meta`/`mm_dedup`/`mm_shards`)
    * treat content as opaque bytes, so provenance doesn't matter;
    * decode ops use [[imageTable]]/[[videoTable]] (real PNG bytes). */
  def mediaTable(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("kind"),
      encode(col("text"), "UTF-8").as("content"))

  /** Real-PNG image table (the `image`-kind ids of [[mediaTable]]):
    * dimensions derive from doc_id — w ∈ [16, 136), h ∈ [16, 112), so
    * a slice of the corpus exceeds the default resize bound and
    * exercises the shrink branch. Encode runs partition-parallel after
    * an explicit repartition (single-row-group parquet scan). */
  def imageTable(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d).select(col("doc_id"))
      .filter(pmod(col("doc_id"), lit(3)) === 0)
      .repartition(col("doc_id"))
      .as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val w = 16 + (id % 120).toInt
          val h = 16 + (id % 96).toInt
          (id, Codec.encodePng(w, h, id))
        }
      }
      .toDF("media_id", "content")
      .select(col("media_id"), lit("image").as("kind"), col("content"))
  }

  /** Bytes reserved per frame in a video blob: each frame is a real
    * 4×4 PNG (~90 bytes) zero-padded to this fixed block size, so
    * frame boundaries are pure offset arithmetic — the keyframe-index
    * analog. */
  val FrameBlockBytes = 512

  /** Real-PNG "video" table (the `video`-kind ids of [[mediaTable]]):
    * 2 + (id % 7) frames laid end-to-end in fixed-size blocks, frame f
    * painted with seed id + f. */
  def videoTable(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d).select(col("doc_id"))
      .filter(pmod(col("doc_id"), lit(3)) === 2)
      .repartition(col("doc_id"))
      .as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val n = 2 + (id % 7).toInt
          val blob = new Array[Byte](n * FrameBlockBytes)
          var f = 0
          while (f < n) {
            val png = Codec.encodePng(4, 4, id + f)
            require(png.length <= FrameBlockBytes,
              s"frame PNG ${png.length}B exceeds the $FrameBlockBytes block")
            System.arraycopy(png, 0, blob, f * FrameBlockBytes, png.length)
            f += 1
          }
          (id, blob)
        }
      }
      .toDF("media_id", "content")
      .select(col("media_id"), lit("video").as("kind"), col("content"))
  }

  /** Decode pass: partition-batched REAL decode → typed metadata. The
    * binary column is consumed here and does not survive into the
    * output (narrow rows downstream). */
  def decodeImages(media: DataFrame): Dataset[ImageMeta] = {
    import media.sparkSession.implicits._
    media.filter(col("kind") === "image")
      .select(col("media_id"), col("content")).as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        // one decoder per partition — the mapInPandas batch shape
        rows.map { case (id, bytes) =>
          val (w, h, lum) = Codec.decodeImage(bytes)
          ImageMeta(id, w, h, w.toLong * h, lum)
        }
      }
  }

  /** Frame sampling: cut the blob at fixed block offsets, keep every
    * `stride`-th frame, and REALLY decode each kept frame (pixel sums
    * feed the oracle). The real video analog samples keyframes by
    * index; the plumbing — partition batching, offset cuts, per-frame
    * decode accounting — is identical. */
  def sampleFrames(media: DataFrame, frameBytes: Int = FrameBlockBytes,
      stride: Int = 4): Dataset[Frames] = {
    import media.sparkSession.implicits._
    media.filter(col("kind") === "video")
      .select(col("media_id"), col("content")).as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, bytes) =>
          val frames = bytes.grouped(frameBytes).toArray
          val sampled = frames.zipWithIndex
            .collect { case (f, i) if i % stride == 0 => f }
          val lum = sampled.map(f => Codec.decodeImage(f)._3).sum
          Frames(id, frames.length, sampled.length, lum)
        }
      }
  }

  /** Resize planning over decoded metadata — pure column arithmetic on
    * REAL decoded dimensions. */
  def resizePlan(decoded: Dataset[ImageMeta], maxSide: Int = 128): DataFrame = {
    import decoded.sparkSession.implicits._
    decoded.map { m =>
      val (w, h) = Codec.resize(m.width, m.height, maxSide)
      (m.media_id, m.width, m.height, m.n_pixels, m.lum_sum, w, h)
    }.toDF("media_id", "width", "height", "n_pixels", "lum_sum",
      "out_width", "out_height")
  }

  // ---- declared queries ----

  type Q = (SparkSession, String) => DataFrame

  /** Metadata-only pass over the media table: byte length + content
    * digest + kind — never decodes, prunes to the needed columns
    * (DuckDB-oracle-checkable: pure SQL byte semantics). */
  val mmMeta: Q = (s, d) =>
    mediaTable(s, d)
      .select(col("media_id"), col("kind"),
        octet_length(col("content")).as("byte_len"),
        sha2(col("content"), 256).as("digest"))
      .orderBy(col("media_id"))

  /** REAL PNG encode → decode → resize plan, media_id order. The
    * oracle recomputes every decoded value from the paint rule in pure
    * SQL — a codec misread of any dimension or pixel fails the gate.
    *
    * r20: [[graft.engine.ops.Checkpoints.cut]] before the presentation
    * sort — a global sort's RangePartitioner SAMPLES by executing its
    * child once before the real pass, and here the child is the full
    * PNG encode+decode: the codec ran TWICE per query. Materializing
    * the narrow (id, dims, sums) rows once is strictly cheaper than a
    * second codec pass at any scale (the nearbySum precedent; the
    * r19 cut-before-sort rejection was for cheap arithmetic
    * projections, where recompute < materialize — the codec inverts
    * that). ProbeMM: 1.45→0.84 s isolated (−45%), rows identical. */
  val mmDecode: Q = (s, d) =>
    resizePlan(decodeImages(imageTable(s, d)))
      .transform(graft.engine.ops.Checkpoints.cut)
      .orderBy(col("media_id"))

  /** Frame sampling with real per-frame decode — oracle-checked pixel
    * sums over the sampled keyframe set. (r20: cut before the sort —
    * see [[mmDecode]]; ProbeMM 0.65→0.45 s, rows identical.) */
  val mmFrames: Q = (s, d) => {
    import s.implicits._
    sampleFrames(videoTable(s, d)).toDF()
      .transform(graft.engine.ops.Checkpoints.cut)
      .orderBy(col("media_id"))
  }

  /** Per-image 64-bit perceptual hash over REALLY decoded bytes — the
    * fingerprint table an image-dedup index persists. Map-only
    * partition-batched decode; output is (id, lo, hi), 24 bytes/row
    * regardless of image size. (r20: cut before the sort — see
    * [[mmDecode]]; ProbeMM 1.22→0.74 s, rows identical.) */
  val mmPhash: Q = (s, d) => {
    phashFrame(s, d)
      .transform(graft.engine.ops.Checkpoints.cut)
      .orderBy(col("media_id"))
  }

  /** (media_id, phash_lo, phash_hi) via one real decode pass. */
  private[graft] def phashFrame(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    imageTable(s, d)
      .select(col("media_id"), col("content")).as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, bytes) =>
          val (lo, hi) = Codec.phash(bytes)
          (id, lo, hi)
        }
      }
      .toDF("media_id", "phash_lo", "phash_hi")
  }

  /** Df cap for [[mmPhashDup]] band buckets — the image twin of
    * [[graft.engine.ops.DedupOps.SimhashMaxBand]], added in round 15
    * after the sf1 scale pass caught the missing cap red-handed: a
    * band value shared by B media contributes C(B,2) join rows, and
    * the 10× corpus moved 16.3M shuffle records where sf0.1 moved
    * 163k — 100× for 10× data, the exact boilerplate-band quadratic
    * the simhash cap documents (synthesized images of templated text
    * cluster their pHash bands; real corpora have letterboxes / solid
    * frames). Same recall contract: a degenerate >cap bucket is
    * dropped from CANDIDATE GENERATION, pairs that also agree on a
    * sane band are still found, and the oracle mirrors the cap. */
  val PhashMaxBand = 500L

  /** Perceptual near-dup pairs: Hamming(phash) ≤ 3 via LSH BANDING —
    * the 64-bit hash splits into 4 × 16-bit bands, candidates come
    * from a band-key equi-join (never all-pairs) with hot bands over
    * [[PhashMaxBand]] excluded (see there), then the exact Hamming
    * distance verifies. With 4 bands a pair within distance 3 has, by
    * pigeonhole, at least one IDENTICAL band — banding loses nothing
    * at the threshold except pairs whose ONLY agreement is a
    * degenerate boilerplate band; the oracle mirrors both the bands
    * and the cap. The shape is dedup_simhash_dup's (bucketed
    * candidates + cheap verify), riding real codec output: only
    * (band, id, lo, hi) rows shuffle, bytes never move. The
    * broadcast(hot) is domain-bounded (≤ 4 × 2¹⁶ band-value groups —
    * an Aggregate, per the broadcast-hint gate's taxonomy). */
  val mmPhashDup: Q = (s, d) =>
    phashDupPairs(s, phashFrame(s, d).transform(Checkpoints.cut), // one decode pass, two join sides
      "mm_phash_dup")

  /** Banding + cap + verify over a (media_id, phash_lo, phash_hi)
    * frame — factored from [[mmPhashDup]] so the all-pairs
    * differential spec (PhashDupDifferentialSpec) can drive it with
    * synthetic phashes where the cap provably fires. The hot-band set
    * stays IN the plan (round-19, closing the r17/r18 residual): the
    * anti-join's build side is the band-count aggregate itself under
    * a broadcast hint — its group domain is ≤ 4 × 2¹⁶ (band, bv)
    * pairs, the same bound that justified broadcasting the previous
    * collected LocalRelation — so constructing the query runs NO job
    * (plan-only consumers like explain() previously paid a corpus
    * scan at build; MetricsSpec now pins job-free construction). The
    * aggregate's input is the checkpoint-cut fingerprint frame, so
    * evaluating it inside the plan re-scans cached checkpoint blocks,
    * never the decode. The dropped-band count still lands in
    * [[Provenance]] (round-16 advice: a recall-affecting cap must
    * surface how often it fired) — recorded LAZILY, so only a reader
    * of the fact pays the bounded aggregate job. One artifact
    * consequence, mirroring the r15→r16 note in reverse: the hot-band
    * aggregation is back inside the timed final plan, so
    * mm_phash_dup's recorded shuffle_records/shuffle_bytes step up
    * discontinuously at the r18→r19 boundary (the aggregate's partial
    * rows count again); r19+ artifacts compare directly, and the
    * r15→r16 exemption is obsolete. */
  private[graft] def phashDupPairs(s: SparkSession, ph: DataFrame,
      tag: String): DataFrame = {
    val bands = ph.select(col("media_id"), col("phash_lo"), col("phash_hi"),
      posexplode(array(
        expr("phash_lo % 65536L"), expr("(phash_lo DIV 65536L) % 65536L"),
        expr("phash_hi % 65536L"), expr("(phash_hi DIV 65536L) % 65536L")))
        .as(Seq("band", "bv")))
    val hot = bands.groupBy(col("band"), col("bv")).count()
      .filter(col("count") > PhashMaxBand)
      .select(col("band"), col("bv"))
    graft.engine.Provenance.recordLazy(tag, "dropped_hot_bands",
      () => hot.count())
    val kept = bands.join(
      org.apache.spark.sql.functions.broadcast(hot),
      Seq("band", "bv"), "left_anti")
    kept.as("x").join(kept.as("y"),
        col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
          col("x.media_id") < col("y.media_id"))
      .select(col("x.media_id").as("media_a"), col("y.media_id").as("media_b"),
        (expr("bit_count(x.phash_lo ^ y.phash_lo)") +
          expr("bit_count(x.phash_hi ^ y.phash_hi)")).cast("long").as("hamming"))
      .filter(col("hamming") <= 3)
      .distinct()
      .orderBy(col("media_a"), col("media_b"))
  }

  /** Exact media dedup by content digest — the blob-level twin of
    * `dedup_exact` (image/audio dedup by byte identity is the first
    * pass of any multimodal pipeline: hash is computed map-side next
    * to the scan, only (digest, id) pairs shuffle — the binary never
    * moves). Survivor = lowest media_id per digest. */
  val mmDedup: Q = (s, d) =>
    mediaTable(s, d)
      .groupBy(sha2(col("content"), 256).as("digest"))
      .agg(org.apache.spark.sql.functions.min(col("media_id")).as("survivor_id"),
        count(lit(1)).as("n_copies"))
      .select(col("survivor_id"), col("n_copies"), col("digest"))
      .orderBy(col("survivor_id"))

  /** Target shard size (bytes) for [[mmShards]]. */
  val ShardBytes = 65536L

  /** WebDataset-style shard assignment: media blobs laid end-to-end in
    * media_id order and assigned to the fixed-size shard their first
    * byte lands in — the layout step that turns a media corpus into
    * trainable tar-shard units. The global byte prefix-sum runs
    * DISTRIBUTED (`PipelineOps.cumBefore`: one range shuffle + a
    * broadcast offset map, never a single-task global window); only
    * (media_id, n_bytes) travels — the binary column never moves. */
  val mmShards: Q = (s, d) =>
    graft.engine.ops.PipelineOps.cumBefore(
        mediaTable(s, d).select(col("media_id"),
          octet_length(col("content")).cast("long").as("n_bytes")),
        "media_id", "n_bytes")
      .select(col("media_id"), col("n_bytes"),
        expr(s"cum_before DIV $ShardBytes").as("shard_id"),
        (col("cum_before") % ShardBytes).as("shard_off"))
      .orderBy(col("media_id"))

  /** Samples per analysis frame for [[mmAudio]]. */
  val AudioFrameSamples = 256

  /** Real-bytes "audio" table (the `audio`-kind ids of [[mediaTable]]):
    * signed 16-bit little-endian PCM packed through `ByteBuffer` — the
    * wire format a WAV data chunk carries. The waveform is an integer
    * PRN (`(id·31 + i)·2654435761 mod 2¹⁶ − 2¹⁵`), closed-form, so an
    * oracle recomputes every decoded feature from the rule; a real
    * corpus swaps the synthesizer for file bytes, the decode path is
    * already the real thing. (The Knuth-constant product stays far
    * inside int64 for any plausible media_id — overflow would need
    * id ≈ 10⁸.) */
  def audioTable(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d).select(col("doc_id"))
      .filter(pmod(col("doc_id"), lit(3)) === 1)
      .repartition(col("doc_id"))
      .as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val n = 1024 + (id % 1024).toInt
          val bb = java.nio.ByteBuffer.allocate(n * 2)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          var i = 0
          while (i < n) {
            bb.putShort((((id * 31 + i) * 2654435761L % 65536) - 32768).toShort)
            i += 1
          }
          (id, bb.array())
        }
      }
      .toDF("media_id", "content")
      .select(col("media_id"), lit("audio").as("kind"), col("content"))
  }

  /** Audio feature extraction over REAL PCM bytes: wrap the blob as a
    * little-endian `ShortBuffer` (the decode), frame at
    * [[AudioFrameSamples]], and emit exact-integer features — sample
    * count, frame count, peak amplitude, total energy Σx², and the
    * loudest frame's energy (the clipping / silence / VAD signals an
    * audio-corpus pipeline computes before transcription). All sums
    * are BIGINT (|x| < 2¹⁵ so Σx² fits with 10⁹ headroom); map-only,
    * one decoder pass per partition, bytes never shuffle. */
  val mmAudio: Q = (s, d) => {
    import s.implicits._
    audioTable(s, d)
      .select(col("media_id"), col("content")).as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, bytes) =>
          val sb = java.nio.ByteBuffer.wrap(bytes)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN).asShortBuffer()
          val n = sb.remaining()
          val nf = (n + AudioFrameSamples - 1) / AudioFrameSamples
          var peak = 0L; var esum = 0L; var maxFrame = 0L
          var f = 0
          while (f < nf) {
            var fe = 0L
            var i = f * AudioFrameSamples
            val end = math.min(n, (f + 1) * AudioFrameSamples)
            while (i < end) {
              val v = sb.get(i).toLong
              if (v.abs > peak) peak = v.abs
              fe += v * v
              i += 1
            }
            esum += fe
            if (fe > maxFrame) maxFrame = fe
            f += 1
          }
          (id, n.toLong, nf.toLong, peak, esum, maxFrame)
        }
      }
      .toDF("media_id", "n_samples", "n_frames", "peak_abs",
        "energy_sum", "max_frame_energy")
      // r20: cut before the sort — see mmDecode (the PCM scan otherwise
      // runs twice under the range sampler)
      .transform(graft.engine.ops.Checkpoints.cut)
      .orderBy(col("media_id"))
  }

  /** Scene-cut luminance-delta threshold (8-bit sum units over a 4×4
    * frame: 16 pixels × up to 255 → deltas land in [0, 4080]; the
    * paint rule steps +1/pixel between frames except at 255→0 wraps,
    * so deltas cluster at |16 − 256·wraps| — 200 cuts exactly at
    * "≥1 pixel wrapped", which splits the corpus). */
  val SceneCutThreshold = 200L

  /** Scene-cut detection over REAL per-frame decodes: every adjacent
    * frame pair's absolute luminance delta, a cut where the delta
    * exceeds [[SceneCutThreshold]] — the shot-segmentation pass a
    * video-corpus pipeline runs before sampling one keyframe per shot
    * (cutting at scene boundaries beats fixed-stride sampling for
    * caption alignment). Decodes EVERY frame block (mm_frames decodes
    * a stride sample), map-only, bytes never shuffle; the oracle
    * replays the paint rule per frame, so a single misdecoded pixel
    * shifts a delta and fails the gate. */
  val mmSceneCut: Q = (s, d) => {
    import s.implicits._
    videoTable(s, d)
      .select(col("media_id"), col("content")).as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, bytes) =>
          val lums = bytes.grouped(FrameBlockBytes)
            .map(f => Codec.decodeImage(f)._3).toArray
          val deltas = lums.indices.drop(1)
            .map(i => (lums(i) - lums(i - 1)).abs)
          val cuts = deltas.count(_ > SceneCutThreshold).toLong
          val maxDelta = if (deltas.isEmpty) 0L else deltas.max
          (id, lums.length.toLong, cuts, maxDelta)
        }
      }
      .toDF("media_id", "n_frames", "n_cuts", "max_delta")
      // r20: cut before the sort — see mmDecode (the per-frame decode
      // otherwise runs twice under the range sampler)
      .transform(graft.engine.ops.Checkpoints.cut)
      .orderBy(col("media_id"))
  }

  /** Σ over a w×h grid of `(x + y + seed) % 256` as DuckDB list
    * arithmetic (this build's `range()` table function can't lateral-
    * join on a column). */
  private def duckLumSum(w: String, h: String, seed: String): String =
    "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"flatten(list_transform(range($w), x -> " +
      s"list_transform(range($h), y -> " +
      s"CAST((x + y + $seed) % 256 AS BIGINT))))), (a, b) -> a + b)"

  /** One 32-bit phash half (bits `off`..`off`+31) from the paint rule:
    * global bit B = i·8 + j samples pixel (i·(w//8), j·(h//8)). */
  private def duckPhashHalf(off: Int): String =
    "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      "list_transform(range(32), b -> " +
      s"CASE WHEN (((b + $off) // 8) * (w // 8) + ((b + $off) % 8) * (h // 8)" +
      " + media_id) % 256 >= 128 " +
      "THEN CAST(1 AS BIGINT) << CAST(b AS INTEGER) " +
      "ELSE CAST(0 AS BIGINT) END)), (a, b) -> a + b)"

  private val duckImg =
    """img AS (
      |  SELECT doc_id AS media_id,
      |    CAST(16 + doc_id % 120 AS BIGINT) AS w,
      |    CAST(16 + doc_id % 96 AS BIGINT) AS h
      |  FROM documents WHERE doc_id % 3 = 0)""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    // replays the paint rule per frame: lum(f) is closed-form, so cuts
    // and deltas are recomputable without touching a codec
    QueryDef("mm_scene_cut", mmSceneCut, Some(
      s"""WITH vid AS (
         |  SELECT doc_id AS media_id, CAST(2 + doc_id % 7 AS BIGINT) AS nf
         |  FROM documents WHERE doc_id % 3 = 2),
         | lums AS (
         |  SELECT media_id, nf, f.f AS f,
         |    ${duckLumSum("4", "4", "media_id + f.f")} AS lum
         |  FROM vid, (SELECT unnest(range(0, 8)) AS f) f
         |  WHERE f.f < nf),
         | del AS (
         |  SELECT media_id, nf,
         |    abs(lum - lag(lum) OVER (PARTITION BY media_id ORDER BY f))
         |      AS delta
         |  FROM lums)
         |SELECT media_id,
         |  CAST(max(nf) AS BIGINT) AS n_frames,
         |  CAST(sum(CASE WHEN delta > $SceneCutThreshold THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_cuts,
         |  CAST(max(delta) AS BIGINT) AS max_delta
         |FROM del WHERE delta IS NOT NULL
         |GROUP BY media_id ORDER BY media_id""".stripMargin)),

    // recomputes the decoded PCM features from the waveform rule — the
    // Spark side must round-trip real little-endian s16 bytes to match
    QueryDef("mm_audio", mmAudio, Some(
      s"""WITH ids AS (
         |  SELECT doc_id AS media_id,
         |    CAST(1024 + doc_id % 1024 AS BIGINT) AS n
         |  FROM documents WHERE doc_id % 3 = 1),
         | syn AS (
         |  SELECT media_id, n,
         |    list_transform(range(0, n),
         |      i -> (media_id * 31 + i) * 2654435761 % 65536 - 32768) AS x,
         |    (n + ${AudioFrameSamples - 1}) // $AudioFrameSamples AS nf
         |  FROM ids)
         |SELECT media_id,
         |  n AS n_samples,
         |  CAST(nf AS BIGINT) AS n_frames,
         |  CAST(list_max(list_transform(x, v -> abs(v))) AS BIGINT) AS peak_abs,
         |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(x, v -> v * v)), (a, b) -> a + b) AS BIGINT)
         |    AS energy_sum,
         |  CAST(list_max(list_transform(range(0, nf), f ->
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(x[f * $AudioFrameSamples + 1 :
         |        least((f + 1) * $AudioFrameSamples, n)], v -> v * v)),
         |      (a, b) -> a + b))) AS BIGINT) AS max_frame_energy
         |FROM syn ORDER BY media_id""".stripMargin)),

    QueryDef("mm_meta", mmMeta, Some(
      """SELECT doc_id AS media_id,
        |  ['image', 'audio', 'video'][(doc_id % 3) + 1] AS kind,
        |  octet_length(encode(text)) AS byte_len,
        |  sha256(text) AS digest
        |FROM documents ORDER BY media_id""".stripMargin)),

    QueryDef("mm_dedup", mmDedup, Some(
      """SELECT min(doc_id) AS survivor_id, count(1) AS n_copies,
        |  sha256(text) AS digest
        |FROM documents GROUP BY sha256(text)
        |ORDER BY survivor_id""".stripMargin)),

    QueryDef("mm_shards", mmShards, Some(
      s"""WITH m AS (
         |  SELECT doc_id AS media_id,
         |    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
         |  FROM documents),
         | c AS (
         |  SELECT media_id, n_bytes,
         |    CAST(COALESCE(SUM(n_bytes) OVER (ORDER BY media_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |      AS cum_before
         |  FROM m)
         |SELECT media_id, n_bytes,
         |  CAST(cum_before // $ShardBytes AS BIGINT) AS shard_id,
         |  CAST(cum_before % $ShardBytes AS BIGINT) AS shard_off
         |FROM c ORDER BY media_id""".stripMargin)),

    // recomputes the decoded values from the paint rule — the Spark
    // side must round-trip real PNG bytes to match
    QueryDef("mm_decode", mmDecode, Some(
      s"""WITH img AS (
         |  SELECT doc_id AS media_id,
         |    CAST(16 + doc_id % 120 AS BIGINT) AS w,
         |    CAST(16 + doc_id % 96 AS BIGINT) AS h
         |  FROM documents WHERE doc_id % 3 = 0)
         |SELECT media_id,
         |  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
         |  CAST(w * h AS BIGINT) AS n_pixels,
         |  ${duckLumSum("w", "h", "media_id")} AS lum_sum,
         |  CAST(CASE WHEN greatest(w, h) <= 128 THEN w
         |       ELSE (w * 128) // greatest(w, h) END AS INTEGER) AS out_width,
         |  CAST(CASE WHEN greatest(w, h) <= 128 THEN h
         |       ELSE (h * 128) // greatest(w, h) END AS INTEGER) AS out_height
         |FROM img ORDER BY media_id""".stripMargin)),

    QueryDef("mm_frames", mmFrames, Some(
      s"""WITH vid AS (
         |  SELECT doc_id AS media_id, CAST(2 + doc_id % 7 AS BIGINT) AS nf
         |  FROM documents WHERE doc_id % 3 = 2),
         | sampled AS (
         |  SELECT media_id, nf, f.f
         |  FROM vid, (SELECT unnest(range(0, 8)) AS f) f
         |  WHERE f.f < nf AND f.f % 4 = 0)
         |SELECT media_id, CAST(max(nf) AS INTEGER) AS n_frames,
         |  CAST(count(1) AS INTEGER) AS sampled_frames,
         |  CAST(sum(${duckLumSum("4", "4", "media_id + f")}) AS BIGINT)
         |    AS sampled_lum_sum
         |FROM sampled GROUP BY media_id ORDER BY media_id""".stripMargin)),

    QueryDef("mm_phash", mmPhash, Some(
      s"""WITH $duckImg
         |SELECT media_id,
         |  ${duckPhashHalf(0)} AS phash_lo,
         |  ${duckPhashHalf(32)} AS phash_hi
         |FROM img ORDER BY media_id""".stripMargin)),

    // mirrors the banded candidate generation INCLUDING the
    // PhashMaxBand hot-band cap (round 15): hamming <= 3 over 4 bands
    // forces one identical band (pigeonhole), and both sides drop
    // candidates whose only agreement is a >cap boilerplate band
    QueryDef("mm_phash_dup", mmPhashDup, Some(
      s"""WITH $duckImg,
         | ph AS (
         |  SELECT media_id,
         |    ${duckPhashHalf(0)} AS lo,
         |    ${duckPhashHalf(32)} AS hi
         |  FROM img),
         | bands AS (
         |  SELECT media_id, lo, hi, b,
         |    CASE b WHEN 0 THEN lo % 65536
         |           WHEN 1 THEN (lo // 65536) % 65536
         |           WHEN 2 THEN hi % 65536
         |           ELSE (hi // 65536) % 65536 END AS bv
         |  FROM ph CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS b)),
         | hot AS (
         |  SELECT b, bv FROM bands GROUP BY b, bv
         |  HAVING count(*) > $PhashMaxBand),
         | kept AS (
         |  SELECT * FROM bands
         |  WHERE NOT EXISTS (SELECT 1 FROM hot h
         |                    WHERE h.b = bands.b AND h.bv = bands.bv))
         |SELECT DISTINCT x.media_id AS media_a, y.media_id AS media_b,
         |  CAST(bit_count(xor(x.lo, y.lo)) + bit_count(xor(x.hi, y.hi))
         |       AS BIGINT) AS hamming
         |FROM kept x JOIN kept y
         |  ON x.b = y.b AND x.bv = y.bv AND x.media_id < y.media_id
         |WHERE bit_count(xor(x.lo, y.lo)) + bit_count(xor(x.hi, y.hi)) <= 3
         |ORDER BY media_a, media_b""".stripMargin)),
  )
}
