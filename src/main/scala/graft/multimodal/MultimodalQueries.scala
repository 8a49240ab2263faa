package graft.multimodal

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (builder-prompt training-data extension):
  * media (image/audio/video) travel as opaque `binary` columns with
  * typed metadata; decode / feature-extraction runs as a per-partition
  * batch transform over the typed Dataset (the Scala analog of
  * mapInPandas — one iterator per partition, no per-row driver calls,
  * schema declared by case-class Encoders).
  *
  * Since round 6 the IMAGE codec is REAL for the formats the JDK
  * ships readers for — PNG/JPEG/GIF/BMP via `javax.imageio`
  * ([[decodeImage]] / [[imageFeatures]] / q128) — and so is the AUDIO
  * codec for 16-bit PCM WAV via `javax.sound.sampled` ([[decodeWav]] /
  * [[audioFeatures]] / q133), both with no new dependency. The
  * generic-media stub remains as the fallback for payloads the JDK
  * cannot decode (video, compressed audio, exotic images): a
  * deterministic fake so the Spark-side plumbing — binary schema,
  * partition batching, feature schema, downstream aggregation — stays
  * real and verified even where the codec is not.
  */
object MultimodalQueries {

  /** Opaque media payload + metadata (what a real pipeline would read
    * from e.g. parquet with a binary column per image).
    */
  final case class MediaRecord(doc_id: Long, source: String, payload: Array[Byte])

  /** Typed decode output. */
  final case class MediaFeatures(
      doc_id: Long, source: String,
      n_bytes: Long, n_frames: Long, header_sum: Long)

  /** STUB DECODER — stands in for a real image/audio decode (e.g.
    * JPEG dimensions, audio frame count). Deterministic on the payload
    * bytes so the pipeline is verifiable: frame count models a
    * 256-byte frame size; header_sum models a header checksum over the
    * first 16 bytes. Swap this single function for a real codec.
    */
  def decodeStub(payload: Array[Byte]): (Long, Long, Long) = {
    // a NULL blob decodes as empty — never NPE the task on one bad row
    val p = if (payload == null) Array.emptyByteArray else payload
    val nBytes = p.length.toLong
    val nFrames = nBytes / 256 + 1
    val headerSum = p.take(16).map(b => (b & 0xff).toLong).sum
    (nBytes, nFrames, headerSum)
  }

  /** q50 — multimodal decode + feature aggregation. Binary payloads are
    * derived from documents.text (UTF-8 bytes) since the testdata has
    * no physical media column; the pipeline from `binary` onward is the
    * real shape: Dataset[MediaRecord] → mapPartitions(decode) →
    * Dataset[MediaFeatures] → relational aggregation.
    *
    * Checksum caveat (as q87): Spark iterates UTF-8 BYTES, the DuckDB
    * oracle characters — identical on ASCII corpora (the testdata),
    * divergent on multi-byte text; the cross-engine claim is
    * ASCII-scoped. NULL text coalesces to an empty payload in both
    * engines (0 bytes, 1 frame, checksum 0).
    */
  val q50 = Q(
    "q50_multimodal_features",
    (s, dir) => {
      import s.implicits._
      // coalesce NULL text on BOTH engines (q87/q88 convention): Spark's
      // decode of an empty payload yields (0 bytes, 1 frame, sum 0) and
      // the oracle's COALESCE makes DuckDB see the identical empty doc
      // instead of NULL-skipping the row
      val media = Tables.load(s, dir, "documents")
        .select($"doc_id", $"source",
          coalesce($"text", lit("")).cast("binary").as("payload"))
        .as[MediaRecord]
      val feats = media.mapPartitions { batch =>
        batch.map { m =>
          val (nBytes, nFrames, headerSum) = decodeStub(m.payload)
          MediaFeatures(m.doc_id, m.source, nBytes, nFrames, headerSum)
        }
      }
      feats.groupBy($"source")
        .agg(
          count(lit(1)).as("n_media"),
          sum($"n_bytes").as("total_bytes"),
          sum($"n_frames").as("total_frames"),
          sum($"header_sum").as("header_checksum"))
        .orderBy($"source")
    },
    Some("""SELECT source, COUNT(*) AS n_media,
      |       CAST(SUM(length(COALESCE(text, ''))) AS BIGINT) AS total_bytes,
      |       CAST(SUM(CAST(floor(length(COALESCE(text, '')) / 256) AS BIGINT) + 1) AS BIGINT) AS total_frames,
      |       CAST(SUM((SELECT SUM(ascii(substr(COALESCE(text, ''), g.i, 1)))
      |                 FROM UNNEST(generate_series(1, 16)) AS g(i))) AS BIGINT) AS header_checksum
      |FROM documents
      |GROUP BY source
      |ORDER BY source""".stripMargin),
    doc = "multimodal: binary payload → mapPartitions decode (stub) → features. " +
      "Binary payload decode + feature extraction run map-side in a typed mapPartitions (the mapInPandas batch shape); only per-source stats shuffle.")

  /** Typed output of the REAL image decode path ([[imageFeatures]]).
    * For undecodable/opaque payloads (`decoded` = false) the stub
    * features stand in: n_pixels carries the stub frame count and
    * luma_sum the stub header checksum — schema-stable either way.
    */
  final case class ImageFeatures(
      doc_id: Long, source: String, format: String, decoded: Boolean,
      width: Int, height: Int, n_pixels: Long, luma_sum: Long,
      resized_luma_sum: Long)

  /** Magic-byte sniff for the formats the JDK ships readers for —
    * cheap rejection before ImageIO ever sees a non-image payload.
    */
  private[multimodal] def sniffFormat(p: Array[Byte]): Option[String] = {
    if (p == null || p.length < 8) None
    else if ((p(0) & 0xff) == 0x89 && p(1) == 'P' && p(2) == 'N' && p(3) == 'G')
      Some("png")
    else if ((p(0) & 0xff) == 0xff && (p(1) & 0xff) == 0xd8 &&
             (p(2) & 0xff) == 0xff) Some("jpeg")
    else if (p(0) == 'G' && p(1) == 'I' && p(2) == 'F' && p(3) == '8')
      Some("gif")
    else if (p(0) == 'B' && p(1) == 'M') Some("bmp")
    else None
  }

  /** REAL image decode — JDK `javax.imageio`, no new dependency:
    * width/height plus two integer pixel statistics (ITU-R BT.601
    * integer luma sum, and the same over a 2× nearest-neighbor
    * downsample — the "resize" stat). Integer arithmetic throughout so
    * the numbers are deterministic across JVMs. Returns None for
    * payloads that do not sniff as PNG/JPEG/GIF/BMP or that ImageIO
    * cannot read (caller falls back to the stub — one bad blob must
    * degrade, not kill the task).
    */
  def decodeImage(payload: Array[Byte]): Option[(String, Int, Int, Long, Long)] =
    sniffFormat(payload).flatMap { fmt =>
      val img =
        try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
        catch { case _: Exception => null } // corrupt blob → stub path
      if (img == null) None
      else {
        val w = img.getWidth
        val h = img.getHeight
        var luma = 0L
        var resized = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            val l = (299L * ((rgb >> 16) & 0xff) + 587L * ((rgb >> 8) & 0xff) +
              114L * (rgb & 0xff)) / 1000L
            luma += l
            if ((x & 1) == 0 && (y & 1) == 0) resized += l
            x += 1
          }
          y += 1
        }
        Some((fmt, w, h, luma, resized))
      }
    }

  /** Decode a media frame (doc_id, source, payload binary) with the
    * real codec where the payload is an image, stub features
    * otherwise — the q50 pipeline shape (typed mapPartitions, schema
    * by Encoder) with the codec slot now actually filled for the
    * JDK-supported formats.
    */
  def imageFeatures(media: DataFrame): DataFrame = {
    val s = media.sparkSession
    import s.implicits._
    media.select(col("doc_id"), col("source"), col("payload"))
      .as[MediaRecord]
      .mapPartitions(_.map { m =>
        decodeImage(m.payload) match {
          case Some((fmt, w, h, luma, resized)) =>
            ImageFeatures(m.doc_id, m.source, fmt, decoded = true,
              w, h, w.toLong * h, luma, resized)
          case None =>
            val (nBytes, nFrames, headerSum) = decodeStub(m.payload)
            ImageFeatures(m.doc_id, m.source, "opaque", decoded = false,
              0, 0, nFrames, headerSum, nBytes)
        }
      }).toDF()
  }

  /** Deterministic tiny PNG for the q128 self-exercising decode query:
    * a w×h RGB gradient keyed on `seed` so every engine/JVM renders
    * byte-identical pixels (PNG is lossless, so the decode recovers
    * them exactly).
    */
  def syntheticPng(seed: Long, w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val r = ((seed + x) % 256).toInt
        val g = ((seed / 7 + y) % 256).toInt
        val b = ((seed / 31 + x + y) % 256).toInt
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** q128 — REAL codec round-trip in the registry: render one
    * deterministic PNG per sampled doc in-engine (the testdata has no
    * physical media column), decode through [[imageFeatures]], and
    * aggregate per source.
    *
    * ORACLE-CHECKED since round 7 via the q133 closed-form stance:
    * DuckDB cannot decode PNG, but it does not have to — PNG is
    * LOSSLESS, so the decoded pixels equal the rendered
    * [[syntheticPng]] gradient, whose per-pixel integer luma
    * `(299·r + 587·g + 114·b) div 1000` is a pure arithmetic function
    * of (doc_id, x, y) the oracle computes with generate_series.
    * Hash-equality therefore certifies the full byte-level PNG encode
    * → ImageIO decode → pixel-walk roundtrip (any codec or color-model
    * drift would shift total_luma). `ImageDecodeSpec` keeps the
    * pixel-exact unit view (PNG and JPEG fixtures, corrupt fallback).
    *
    * Scale shape: encode and decode fuse into one mapPartitions stage
    * over the sampled frame (no shuffle between them); the only
    * exchange is the final per-source aggregate.
    */
  val q128 = Q(
    "q128_image_decode",
    (s, dir) => {
      import s.implicits._
      val media = Tables.load(s, dir, "documents")
        .select($"doc_id", $"source")
        .orderBy($"doc_id").limit(200) // bounded media sample
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, src) =>
          // 8..23 px square keyed on the id: varied but tiny
          val side = (8 + (id % 16)).toInt
          MediaRecord(id, src, syntheticPng(id, side, side))
        }).toDF()
      imageFeatures(media)
        .groupBy($"source")
        .agg(count(lit(1)).as("n_images"),
          sum(when($"decoded", 1L).otherwise(0L)).as("n_decoded"),
          sum($"n_pixels").as("total_pixels"),
          sum($"luma_sum").as("total_luma"),
          sum($"resized_luma_sum").as("total_resized_luma"))
        .orderBy($"source")
    },
    Some("""WITH docs200 AS (
      |  SELECT doc_id, source FROM documents ORDER BY doc_id LIMIT 200),
      |imgs AS (
      |  SELECT doc_id, source, 8 + doc_id % 16 AS side FROM docs200),
      |ys AS (
      |  SELECT doc_id, source, side,
      |         UNNEST(generate_series(0, CAST(side - 1 AS INT))) AS y
      |  FROM imgs),
      |px AS (
      |  SELECT doc_id, source, side, y,
      |         UNNEST(generate_series(0, CAST(side - 1 AS INT))) AS x
      |  FROM ys),
      |lum AS (
      |  SELECT doc_id, source, x, y,
      |         (299 * ((doc_id + x) % 256)
      |          + 587 * ((doc_id // 7 + y) % 256)
      |          + 114 * ((doc_id // 31 + x + y) % 256)) // 1000 AS l
      |  FROM px),
      |per AS (
      |  SELECT doc_id, source, SUM(l) AS luma,
      |         SUM(CASE WHEN x % 2 = 0 AND y % 2 = 0 THEN l ELSE 0 END) AS rl
      |  FROM lum GROUP BY 1, 2)
      |SELECT i.source, COUNT(*) AS n_images,
      |       CAST(COUNT(*) AS BIGINT) AS n_decoded,
      |       CAST(SUM(i.side * i.side) AS BIGINT) AS total_pixels,
      |       CAST(SUM(p.luma) AS BIGINT) AS total_luma,
      |       CAST(SUM(p.rl) AS BIGINT) AS total_resized_luma
      |FROM imgs i JOIN per p USING (doc_id)
      |GROUP BY i.source ORDER BY i.source""".stripMargin),
    doc = "multimodal: real JDK imageio decode round-trip (synthetic PNGs → width/height/luma stats), oracle-checked closed form (lossless PNG ⇒ decoded pixels = rendered gradient). " +
      "Bounded media sample rendered + decoded map-side with JDK ImageIO inside one mapPartitions stage; the only exchange is the final per-source aggregate — pixels never shuffle.")

  /** One sampled frame of a media payload. */
  final case class Frame(
      doc_id: Long, source: String, frame_idx: Int,
      checksum: Long, resized_sum: Long)

  val FrameBytes = 64
  val SampleStride = 2 // keep every 2nd frame
  val ResizeFactor = 4 // "resize": keep every 4th byte of a frame

  /** STUB frame sampler + resizer — stands in for video frame
    * extraction and image downscaling. Deterministic on payload bytes:
    * frames are fixed 64-byte strides, sampling keeps every 2nd frame,
    * "resize" sums every 4th byte of a frame (modeling a downsampled
    * pixel checksum). Swap for a real codec; the iterator shape (one
    * payload in, 0..n frames out) is what a real decoder has.
    */
  def sampleFrames(doc_id: Long, source: String, payload0: Array[Byte]): Iterator[Frame] = {
    val payload = if (payload0 == null) Array.emptyByteArray else payload0
    val nFrames = (payload.length + FrameBytes - 1) / FrameBytes
    Iterator.range(0, nFrames, SampleStride).map { f =>
      val start = f * FrameBytes
      val end = math.min(start + FrameBytes, payload.length)
      var sum = 0L; var rsum = 0L; var i = start
      while (i < end) {
        val v = (payload(i) & 0xff).toLong
        sum += v
        if ((i - start) % ResizeFactor == 0) rsum += v
        i += 1
      }
      Frame(doc_id, source, f, sum, rsum)
    }
  }

  /** q53 — frame sampling + resize over binary payloads: the typed
    * generator pipeline (one row in → n frame rows out) a video/image
    * pre-processing stage needs. Runs as Dataset.flatMap — per-partition
    * iterators, codegen'd serialization, no driver involvement; the
    * downstream aggregation is an ordinary relational groupBy.
    */
  val q53 = Q(
    "q53_frame_sample",
    (s, dir) => {
      import s.implicits._
      val media = Tables.load(s, dir, "documents")
        .select($"doc_id", $"source", $"text".cast("binary").as("payload"))
        .as[MediaRecord]
      val frames = media.flatMap(m => sampleFrames(m.doc_id, m.source, m.payload))
      frames.groupBy($"source")
        .agg(
          countDistinct($"doc_id").as("n_docs"),
          count(lit(1)).as("n_frames"),
          sum($"checksum").as("total_checksum"),
          sum($"resized_sum").as("total_resized"))
        .orderBy($"source")
    },
    Some("""WITH idx AS (
      |  SELECT doc_id, source, text,
      |         UNNEST(generate_series(0,
      |           CAST(ceil(length(text) / 64.0) AS INT) - 1, 2)) AS f
      |  FROM documents),
      |frames AS (
      |  SELECT doc_id, source, f,
      |         (SELECT SUM(ascii(substr(text, 64 * f + g.i, 1)))
      |          FROM UNNEST(generate_series(1, 64)) AS g(i)
      |          WHERE 64 * f + g.i <= length(text)) AS checksum,
      |         (SELECT SUM(ascii(substr(text, 64 * f + g.i, 1)))
      |          FROM UNNEST(generate_series(1, 64)) AS g(i)
      |          WHERE 64 * f + g.i <= length(text)
      |            AND (g.i - 1) % 4 = 0) AS resized_sum
      |  FROM idx)
      |SELECT source, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_frames,
      |       CAST(SUM(checksum) AS BIGINT) AS total_checksum,
      |       CAST(SUM(resized_sum) AS BIGINT) AS total_resized
      |FROM frames
      |GROUP BY source ORDER BY source""".stripMargin),
    doc = "multimodal: frame sampling + resize stub via typed flatMap generator. " +
      "Frame sampling is one typed mapPartitions generator — iterator-to-iterator with codegen'd serialization, no driver involvement.")

  /** One embedded payload: 8 integer feature dims (a quantized
    * embedding — integer so both engines agree bit-for-bit).
    */
  final case class Embedded(doc_id: Long, source: String, emb: Array[Long])

  val EncoderBatch = 32

  /** STUB BATCH ENCODER — stands in for a model-inference call (CLIP,
    * an audio encoder, …): takes a BATCH of payloads, returns one
    * embedding per input, order-preserving. Deterministic on the bytes:
    * dim d = sum of bytes at positions ≡ d (mod 8). The call-per-batch
    * contract is the real one — a GPU model amortizes per-call overhead
    * across the batch, so the plumbing must hand it bounded batches,
    * never single rows and never a whole partition as one array.
    */
  def encodeBatch(batch: Seq[MediaRecord]): Seq[Embedded] =
    batch.map { m =>
      val dims = new Array[Long](8)
      // a NULL payload embeds as the zero vector — an encoder must not
      // NPE the whole task on one missing media blob
      val p = if (m.payload == null) Array.emptyByteArray else m.payload
      var i = 0
      while (i < p.length) {
        dims(i % 8) += (p(i) & 0xffL)
        i += 1
      }
      Embedded(m.doc_id, m.source, dims)
    }

  /** q87 — batched embedding inference plumbing: binary payloads →
    * `mapPartitions` with `Iterator.grouped(32)` → one encoder call per
    * ≤32-record batch → one embedding row per input. This is the
    * Scala analog of `mapInPandas` batch inference: per-partition
    * iterators keep memory at batch granularity (never materializing a
    * partition), the encoder sees real batches, and the verified output
    * is partition-layout-independent (counts + a dim-weighted checksum
    * — batch boundaries cannot affect it).
    *
    * Checksum caveat: Spark iterates the UTF-8 BYTES of the payload
    * while the DuckDB oracle iterates characters (`ascii(substr(...))`)
    * — identical on ASCII corpora (the testdata is ASCII word-soup),
    * divergent on multi-byte text. The cross-engine claim is therefore
    * ASCII-scoped; NULL text coalesces to an empty payload in both
    * engines.
    */
  val q87 = Q(
    "q87_batch_embed",
    (s, dir) => {
      import s.implicits._
      // coalesce NULL text (the q88 convention): both engines see an
      // empty payload, and the executor-side batch never sees null
      val media = Tables.load(s, dir, "documents")
        .select($"doc_id", $"source",
          coalesce($"text", lit("")).cast("binary").as("payload"))
        .as[MediaRecord]
      val embedded = media.mapPartitions { it =>
        it.grouped(EncoderBatch).flatMap(b => encodeBatch(b))
      }
      embedded
        .select($"doc_id", $"source",
          expr("aggregate(zip_with(emb, sequence(1L, 8L), (x, w) -> x * w), 0L, (a, x) -> a + x)")
            .as("wsum"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_embedded"),
             sum($"wsum").as("emb_checksum"))
        .orderBy($"source")
    },
    Some("""SELECT source, COUNT(*) AS n_embedded,
      |       CAST(SUM((SELECT SUM(ascii(substr(COALESCE(text, ''), g.i, 1)) * ((g.i - 1) % 8 + 1))
      |                 FROM UNNEST(generate_series(1, length(COALESCE(text, '')))) AS g(i)))
      |            AS BIGINT) AS emb_checksum
      |FROM documents
      |GROUP BY source
      |ORDER BY source""".stripMargin),
    doc = "multimodal: batched encoder inference (grouped mapPartitions, 32-record batches). " +
      "Batched embedding 'inference' via grouped mapPartitions — iterator-to-iterator, batch-shaped buffers, no driver round-trip; ASCII-scoped for engine parity.")

  /** Typed output of the REAL audio decode path ([[audioFeatures]]).
    * Stub fallback mirrors [[ImageFeatures]]: undecodable payloads get
    * the stub stats with `decoded` = false, schema-stable either way.
    */
  final case class AudioFeatures(
      doc_id: Long, source: String, decoded: Boolean,
      sample_rate: Int, channels: Int, n_samples: Long,
      sum_abs: Long, peak: Long)

  /** Deterministic PCM16LE mono WAV for the q133 roundtrip: an integer
    * sawtooth `s_i = ((i·k) mod 32768) − 16384` with `k = 1 + id mod 7`
    * over `800 + id mod 800` samples at 8 kHz. Pure integer math, so
    * the decoded stats have a CLOSED FORM a SQL oracle can compute —
    * hash-equality then proves the byte-level WAV write → JDK decode
    * roundtrip lossless, the same certification shape as the PNG path
    * (q128), but oracle-checked because no codec entropy is involved.
    */
  def syntheticWav(docId: Long, sampleRate: Int = 8000): Array[Byte] = {
    val k = 1 + (docId % 7).toInt
    val n = (800 + docId % 800).toInt
    val data = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val s = (((i.toLong * k) % 32768L) - 16384L).toInt
      data(2 * i) = (s & 0xff).toByte
      data(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    val bb = java.nio.ByteBuffer.allocate(44 + data.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + data.length)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1.toShort).putShort(1.toShort) // PCM, mono
      .putInt(sampleRate).putInt(sampleRate * 2) // byte rate = sr·block
      .putShort(2.toShort).putShort(16.toShort) // block align, bits/sample
      .put("data".getBytes("US-ASCII")).putInt(data.length).put(data)
    bb.array()
  }

  /** REAL audio decode — JDK `javax.sound.sampled`, no new dependency:
    * parse the container, then fold the PCM frames into exact integer
    * stats (sample count, Σ|s|, peak |s|). Only 16-bit signed PCM is
    * decoded (what `AudioSystem` reads without a transcoding SPI);
    * everything else returns None and the caller stubs — one bad blob
    * degrades, never kills the task.
    */
  def decodeWav(payload: Array[Byte])
      : Option[(Int, Int, Long, Long, Long)] = {
    if (payload == null || payload.length < 44 ||
        payload(0) != 'R' || payload(1) != 'I' ||
        payload(2) != 'F' || payload(3) != 'F') return None
    val in =
      try javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      catch { case _: Exception => return None } // corrupt container
    try {
      val f = in.getFormat
      if (f.getSampleSizeInBits != 16 ||
          f.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED)
        return None
      val bytes = in.readAllBytes()
      val bigEndian = f.isBigEndian
      var sumAbs = 0L
      var peak = 0L
      var count = 0L
      var i = 0
      while (i + 1 < bytes.length) {
        val s =
          if (bigEndian) ((bytes(i) << 8) | (bytes(i + 1) & 0xff)).toShort
          else ((bytes(i + 1) << 8) | (bytes(i) & 0xff)).toShort
        val a = math.abs(s.toLong)
        sumAbs += a
        if (a > peak) peak = a
        count += 1
        i += 2
      }
      Some((f.getSampleRate.toInt, f.getChannels, count, sumAbs, peak))
    } catch { case _: Exception => None }
    finally in.close()
  }

  /** [[decodeWav]] over a (doc_id, source, payload) frame with the
    * stub fallback — the q50/q128 typed-mapPartitions pipeline shape.
    */
  def audioFeatures(media: DataFrame): DataFrame = {
    val s = media.sparkSession
    import s.implicits._
    media.select(col("doc_id"), col("source"), col("payload"))
      .as[MediaRecord]
      .mapPartitions(_.map { m =>
        decodeWav(m.payload) match {
          case Some((sr, ch, n, sumAbs, peak)) =>
            AudioFeatures(m.doc_id, m.source, decoded = true,
              sr, ch, n, sumAbs, peak)
          case None =>
            val (nBytes, nFrames, headerSum) = decodeStub(m.payload)
            AudioFeatures(m.doc_id, m.source, decoded = false,
              0, 0, nFrames, headerSum, nBytes)
        }
      }).toDF()
  }

  /** q133 — real audio codec roundtrip WITH a SQL oracle: render one
    * deterministic WAV per sampled doc in-engine, decode through the
    * JDK audio stack, and aggregate exact integer sample stats per
    * source. The waveform is closed-form integer math, so DuckDB
    * computes the same stats WITHOUT parsing WAV — hash-equality
    * certifies the full byte-level write → container parse → PCM
    * decode roundtrip, a stronger check than q128's rows-only can be
    * (PNG pixels aren't SQL-expressible; a sawtooth is).
    *
    * Scale shape: synth + decode fuse into one mapPartitions stage
    * over the bounded sample (no shuffle between them); the only
    * exchange is the final per-source aggregate.
    */
  val q133 = Q(
    "q133_audio_decode",
    (s, dir) => {
      import s.implicits._
      val media = Tables.load(s, dir, "documents")
        .select($"doc_id", $"source")
        .orderBy($"doc_id").limit(200) // bounded media sample (q128)
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, src) =>
          MediaRecord(id, src, syntheticWav(id))
        }).toDF()
      audioFeatures(media)
        .groupBy($"source")
        .agg(count(lit(1)).as("n_clips"),
          sum(when($"decoded", 1L).otherwise(0L)).as("n_decoded"),
          sum($"n_samples").as("total_samples"),
          sum($"sum_abs").as("total_abs"),
          max($"peak").as("max_peak"))
        .orderBy($"source")
    },
    Some("""WITH docs200 AS (
      |  SELECT doc_id, source FROM documents ORDER BY doc_id LIMIT 200),
      |clips AS (
      |  SELECT doc_id, source,
      |         1 + doc_id % 7 AS k,
      |         800 + doc_id % 800 AS n
      |  FROM docs200),
      |idx AS (
      |  SELECT doc_id, source, k,
      |         UNNEST(generate_series(0, CAST(n - 1 AS INT))) AS i
      |  FROM clips),
      |vals AS (
      |  SELECT doc_id, source, ABS(((i * k) % 32768) - 16384) AS a
      |  FROM idx),
      |per AS (
      |  SELECT doc_id, source, COUNT(*) AS n_samples,
      |         SUM(a) AS sum_abs, MAX(a) AS peak
      |  FROM vals GROUP BY 1, 2)
      |SELECT source, COUNT(*) AS n_clips,
      |       CAST(COUNT(*) AS BIGINT) AS n_decoded,
      |       CAST(SUM(n_samples) AS BIGINT) AS total_samples,
      |       CAST(SUM(sum_abs) AS BIGINT) AS total_abs,
      |       CAST(MAX(peak) AS BIGINT) AS max_peak
      |FROM per GROUP BY source ORDER BY source""".stripMargin),
    doc = "multimodal: real JDK audio decode roundtrip (synthetic PCM16 WAV → exact sample stats), oracle-checked closed form. " +
      "Audio roundtrip: WAV synth + JDK decode fuse into one mapPartitions stage over the bounded 200-doc sample (no shuffle between synth and decode); the only Exchange is the final per-source aggregate.")

  val all: Seq[Q] = Seq(q50, q53, q87, q128, q133)
}
