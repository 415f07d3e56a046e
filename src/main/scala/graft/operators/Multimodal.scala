package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.QueryModule
import graft.sources.Tables

/** Multimodal column support (SURVEY.md §2.12 E5): media payloads are
  * opaque `BinaryType` columns travelling next to a typed metadata
  * struct; decode / feature-extraction runs as batched per-partition
  * processing over the binary column.
  *
  * Image DIMENSIONS are decoded for real: PNG IHDR and JPEG SOFn
  * headers are pure byte arithmetic (graft.functions.MediaHeaders), no
  * codec needed, and MultimodalSpec pins true dimensions on real
  * payload fixtures. Audio HEADER FIELDS are likewise real: RIFF/WAVE
  * fmt+data chunk walking (`MediaHeaders.wavInfo`) yields sample rate,
  * channels, bit depth, and sample count with no codec. Video MOVIE
  * HEADERS too: the ISO BMFF moov/mvhd box walk (`MediaHeaders
  * .mp4Info`) yields timescale and duration, and the
  * trak/mdia/minf/stbl/stts sample-table walk yields the video
  * track's true frame count. Full-frame decode and compressed-audio
  * fields remain a clearly marked STUB (`FakeDecoder` and the inline
  * byte-length arithmetic) — deterministic functions of the bytes —
  * because the container has no codecs. Everything around
  * the kernel is the real engineering surface: schema (binary +
  * struct), partition-level batching, the typed Dataset path, and the
  * column-function twin the oracle checks.
  *
  * Scale posture: payloads never pass through a shuffle — features are
  * extracted in the scan stage (narrow), and only the small feature
  * rows move on. At 100 TB the payload column lives in its own parquet
  * column chunks, so feature-only queries never read the bytes
  * (column pruning), and `spark.read.format("binaryFile")` feeds raw
  * object stores the same shape (MultimodalSpec covers that source).
  */
object Multimodal {

  /** A multimodal record: opaque payload + typed metadata. */
  case class MediaRow(doc_id: Long, media_type: String, payload: Array[Byte],
                      lang: String, source: String)

  /** Extracted features for one payload. */
  case class MediaFeatures(doc_id: Long, media_type: String, byte_len: Long,
                           sha256_hex: String, width: Int, height: Int,
                           n_frames: Int)

  /** STUB decode kernel — stands in for full-frame image decode and
    * for audio/video codecs (none available in this environment).
    * Deterministic in the bytes: "dimensions" are arithmetic in the
    * payload length, "frame count" only for video. The real
    * implementation would slot in here with the same signature (bytes
    * in, features out) without touching any plan shape. */
  object FakeDecoder {
    def decode(mediaType: String, payload: Array[Byte]): (Int, Int, Int) = {
      val len = payload.length
      val width = 1 + len % 1024
      val height = 1 + (len * 7) % 768
      val frames = if (mediaType == "video") 1 + len % 250 else 1
      (width, height, frames)
    }
  }

  /** The real decode dispatch: image payloads that are genuine PNG/JPEG
    * containers get their TRUE pixel dimensions from header-level byte
    * parsing (graft.functions.MediaHeaders — no codec dependency);
    * everything else (synthetic payloads, audio, video) falls through
    * to the labeled stub. The columnar twin (featuresColumnarOf)
    * dispatches identically via the ImageDims expression, calling the
    * SAME static kernel — parity is one code path, not two
    * implementations. */
  object HeaderDecoder {
    def decode(mediaType: String, payload: Array[Byte]): (Int, Int, Int) = {
      if (mediaType == "image") {
        val d = graft.functions.MediaHeaders.imageDims(payload)
        if (d != null) return (d(0), d(1), 1)
      }
      FakeDecoder.decode(mediaType, payload)
    }
  }

  /** The documents table lifted to a multimodal shape: payload =
    * UTF-8 bytes of the text (a stand-in for real media bytes),
    * media_type assigned round-robin. */
  def mediaTable(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        element_at(typedLit(Seq("image", "audio", "video")),
          (col("doc_id") % 3 + 1).cast("int")).as("media_type"),
        encode(col("text"), "UTF-8").as("payload"),
        col("lang"), col("source"))
      .as[MediaRow]
  }

  /** Media table from a raw file/object-store directory via Spark's
    * binaryFile source — the shape a 100 TB multimodal corpus actually
    * arrives in (payload files in an object store, not parquet
    * columns). media_type derives from the file extension, doc_id from
    * a hash of the path (deterministic, collision-audited by
    * mediaDedup's digest grouping downstream). The source supports
    * pushdown on path glob and modifiedAfter; payloads stay in the
    * scan stage exactly like the parquet-backed table. */
  def mediaTableFromFiles(spark: SparkSession, path: String): Dataset[MediaRow] = {
    import spark.implicits._
    val ext = lower(element_at(split(col("path"), "\\."), -1))
    spark.read.format("binaryFile").load(path)
      .select(
        xxhash64(col("path")).as("doc_id"),
        when(ext.isin("png", "jpg", "jpeg", "gif", "bmp", "webp"), "image")
          .when(ext.isin("wav", "mp3", "flac", "ogg"), "audio")
          .when(ext.isin("mp4", "mkv", "webm", "avi"), "video")
          .otherwise("binary").as("media_type"),
        col("content").as("payload"),
        lit("und").as("lang"),
        col("path").as("source"))
      .as[MediaRow]
  }

  /** Batched per-partition decode: the mapPartitions shape a real
    * codec UDF needs (amortize per-batch model/codec setup across
    * `batchSize` rows), kept as a typed Dataset transform. */
  def extractFeatures(media: Dataset[MediaRow], batchSize: Int = 64): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        // per-batch setup would happen here (codec init, model load)
        batch.iterator.map { r =>
          val (w, h, f) = HeaderDecoder.decode(r.media_type, r.payload)
          val sha = java.security.MessageDigest.getInstance("SHA-256")
            .digest(r.payload).map("%02x".format(_)).mkString
          MediaFeatures(r.doc_id, r.media_type, r.payload.length.toLong, sha, w, h, f)
        }
      }
    }
  }

  /** Column-function twin of extractFeatures — whole-stage-codegen'd
    * (ImageDims is a native codegen Expression over the same static
    * header kernel HeaderDecoder calls), and the form the DuckDB
    * oracle can check: the driver corpus's payloads are synthetic text
    * bytes — never a real container — so the oracle's length
    * arithmetic is the active branch there, while real PNG/JPEG
    * payloads take the header branch (MultimodalSpec's fixture pins
    * the true dimensions on both paths). */
  def featuresColumnarOf(media: DataFrame): DataFrame =
    media
      .select(col("doc_id"), col("media_type"),
        length(col("payload")).cast("long").as("byte_len"),
        sha2(col("payload"), 256).as("sha256_hex"),
        when(col("media_type") === "image",
          graft.functions.ImageDims(col("payload"))).as("dims"))
      .select(col("doc_id"), col("media_type"), col("byte_len"), col("sha256_hex"),
        coalesce(element_at(col("dims"), 1),
          (lit(1) + col("byte_len") % 1024).cast("int")).as("width"),
        coalesce(element_at(col("dims"), 2),
          (lit(1) + (col("byte_len") * 7) % 768).cast("int")).as("height"),
        when(col("media_type") === "video", lit(1) + col("byte_len") % 250)
          .otherwise(lit(1)).cast("int").as("n_frames"))
      .orderBy("doc_id")

  /** featuresColumnarOf over the corpus media table — the registered
    * `q_media_features` query. */
  def featuresColumnar(spark: SparkSession, dir: String): DataFrame =
    featuresColumnarOf(mediaTable(spark, dir).toDF())

  /** Audio feature extraction over the media table's audio rows:
    * genuine RIFF/WAVE payloads get their TRUE header fields from the
    * codegen'd WavInfo expression (sample rate, channels, bit depth,
    * per-channel sample count — pure chunk-walk byte arithmetic, no
    * codec); anything else falls back to the deterministic
    * byte-length stub, exactly the image dispatch discipline
    * (featuresColumnarOf). duration_ms derives from samples over rate
    * in integer arithmetic so both engines agree bit-for-bit. The
    * driver corpus's payloads are synthetic text bytes, so the oracle
    * checks the stub branch; MultimodalSpec's WAV fixture pins the
    * header branch. */
  def audioFeaturesOf(media: DataFrame): DataFrame =
    media
      .filter(col("media_type") === "audio")
      .select(col("doc_id"),
        length(col("payload")).cast("long").as("byte_len"),
        graft.functions.WavInfo(col("payload")).as("info"))
      .select(col("doc_id"), col("byte_len"),
        coalesce(element_at(col("info"), 1),
          element_at(typedLit(Seq(8000, 16000, 22050, 44100, 48000)),
            (col("byte_len") % 5 + 1).cast("int"))).as("sample_rate"),
        coalesce(element_at(col("info"), 2),
          (lit(1) + col("byte_len") % 2).cast("int")).as("channels"),
        coalesce(element_at(col("info"), 3),
          (lit(8) * (lit(1) + col("byte_len") % 3)).cast("int")).as("bits_per_sample"),
        coalesce(element_at(col("info"), 4),
          (lit(1) + (col("byte_len") * 13) % 480000).cast("int")).as("n_samples"))
      .withColumn("duration_ms",
        expr("(CAST(n_samples AS BIGINT) * 1000) div sample_rate"))
      .orderBy("doc_id")

  /** audioFeaturesOf over the corpus media table — the registered
    * `q_media_audio` query. */
  def audioFeatures(spark: SparkSession, dir: String): DataFrame =
    audioFeaturesOf(mediaTable(spark, dir).toDF())

  /** Video feature extraction over the media table's video rows:
    * genuine ISO BMFF (MP4/MOV) payloads get their TRUE movie-header
    * fields from the codegen'd Mp4Info expression — timescale +
    * duration via the moov/mvhd box walk, and n_frames via the
    * trak/mdia/minf/stbl/stts sample-table walk (Σ stts sample
    * counts of the first 'vide' track) — byte arithmetic, no codec.
    * Everything else falls back to the deterministic byte-length
    * stub; so does a real movie with no walkable video sample table
    * (Mp4Info reports -1 there — audio-only or fragmented movies
    * don't get an invented count). frameSamples keeps the stub
    * arithmetic, matching the stub branch here. */
  def videoFeaturesOf(media: DataFrame): DataFrame =
    media
      .filter(col("media_type") === "video")
      .select(col("doc_id"),
        length(col("payload")).cast("long").as("byte_len"),
        graft.functions.Mp4Info(col("payload")).as("info"))
      .select(col("doc_id"), col("byte_len"),
        coalesce(element_at(col("info"), 1),
          element_at(typedLit(Seq(600L, 1000L, 90000L, 24000L, 30000L)),
            (col("byte_len") % 5 + 1).cast("int"))).as("timescale"),
        coalesce(element_at(col("info"), 2),
          lit(1L) + (col("byte_len") * 17) % 3600000L).as("duration_units"),
        coalesce(
          when(element_at(col("info"), 3) >= 0L, element_at(col("info"), 3)),
          lit(1L) + col("byte_len") % 250).cast("int").as("n_frames"))
      .withColumn("duration_ms",
        expr("(duration_units * 1000) div timescale"))
      .orderBy("doc_id")

  /** videoFeaturesOf over the corpus media table — the registered
    * `q_media_video` query. */
  def videoFeatures(spark: SparkSession, dir: String): DataFrame =
    videoFeaturesOf(mediaTable(spark, dir).toDF())

  /** Exact payload dedup for the media column: group by
    * (media_type, sha256 of the raw bytes), keep the lowest doc_id —
    * the byte-identical-asset dedup every multimodal corpus needs
    * before the expensive decode/feature stages run. The payload is
    * hashed then DROPPED before the aggregation, so the shuffle
    * carries 64 hex chars per asset, never media bytes — the same
    * hash-first discipline as Dedup.exactDedup's text fingerprints.
    * Identity includes the media type: equal bytes under different
    * types stay distinct assets. */
  def mediaDedup(spark: SparkSession, dir: String): DataFrame =
    mediaTable(spark, dir).toDF()
      .select(col("doc_id"), col("media_type"),
        sha2(col("payload"), 256).as("sha256_hex"),
        length(col("payload")).cast("long").as("byte_len"))
      .groupBy("media_type", "sha256_hex")
      .agg(min(col("doc_id")).as("keep_id"),
        count(lit(1)).as("n_copies"),
        max(col("byte_len")).as("byte_len"))
      .orderBy("media_type", "keep_id")

  /** Frame sampling: every `everyK`-th frame of each video payload as
    * its own row — the 1→many generator that turns videos into
    * training frames. `sequence(0, n-1, k)` + explode keeps it inside
    * codegen; the per-frame "content" is a deterministic digest of
    * (payload, frame index) standing in for the decoded frame bytes
    * (codec-free environment), so the row shape, keys, and ordering
    * are exactly what a real decoder would emit. Payloads never
    * shuffle: the explode happens in the scan stage and only
    * (doc_id, frame_idx, digest) rows move on. */
  def frameSamples(spark: SparkSession, dir: String, everyK: Int = 5): DataFrame =
    mediaTable(spark, dir).toDF()
      .filter(col("media_type") === "video")
      .withColumn("n_frames",
        (lit(1) + length(col("payload")).cast("long") % 250).cast("int"))
      .select(col("doc_id"), col("n_frames"), col("payload"),
        explode(sequence(lit(0), col("n_frames") - 1, lit(everyK))).as("frame_idx"))
      .select(col("doc_id"), col("frame_idx"), col("n_frames"),
        sha2(concat(col("payload"),
          encode(concat(lit(":"), col("frame_idx").cast("string")), "UTF-8")), 256)
          .as("frame_sha"))
      .orderBy("doc_id", "frame_idx")

  /** Resize planning: fit-within-a-box target dimensions for every
    * image (aspect-preserving, integer arithmetic so both engines
    * agree exactly). The real resize kernel would consume these dims
    * inside the same batched mapPartitions stage as FakeDecoder; the
    * plan-level point is that target-dim computation is a narrow
    * column op that never touches payload bytes (column pruning keeps
    * them out of the scan entirely). */
  def resizePlan(spark: SparkSession, dir: String, box: Int = 256): DataFrame =
    featuresColumnar(spark, dir)
      .filter(col("media_type") === "image")
      .select(col("doc_id"), col("width"), col("height"),
        when(greatest(col("width"), col("height")) <= box, col("width").cast("long"))
          .otherwise(expr(s"(width * $box) div greatest(width, height)")).as("out_w"),
        when(greatest(col("width"), col("height")) <= box, col("height").cast("long"))
          .otherwise(expr(s"(height * $box) div greatest(width, height)")).as("out_h"))
      .orderBy("doc_id")

  /** dHash grid: 8 rows × 9 columns of fake pixels → 64 gradient
    * bits. */
  private[operators] val DhashRows = 8
  private[operators] val DhashCols = 8
  private[operators] val DhashBands = 4
  private[operators] val DhashBandLen = 16
  /** Band-bucket membership cap — same flood guard as the text
    * SimHash chunk join. */
  private[operators] val DhashMaxBandDf = 64

  /** 64-bit perceptual difference hash (dHash) of a payload: bit(r,c)
    * = pixel(r,c+1) > pixel(r,c) over an 8×9 grid. The pixel decode is
    * the repo's documented STUB (no codecs in this environment): the
    * payload digests ONCE (md5 of the full text — the only full-length
    * pass, bound as a lambda variable so CollapseProject cannot clone
    * it into all 128 cell references; the pre-round-12 formulation
    * keyed every cell's md5 on the raw payload and paid 128 full-text
    * hashes per row — the q_media_phash floor drift), then each fake
    * pixel is md5 of the 32-char digest keyed by (r, c), compared
    * directly on hex strings so neither engine parses hex. The HASH
    * ALGEBRA — gradient bits, banding, capped candidate join, Hamming
    * rerank — is the real thing a codec-backed decode would feed. */
  private[operators] def dhashBits(payloadText: Column): Column =
    element_at(transform(array(md5(payloadText)), h =>
      concat((for { r <- 0 until DhashRows; c <- 0 until DhashCols } yield
        when(md5(concat(h, lit(s":$r:${c + 1}"))) >
             md5(concat(h, lit(s":$r:$c"))), "1").otherwise("0")): _*)), 1)

  /** The SQL twin of [[dhashBits]]'s bit chain over a bound digest
    * column — generated, not longhand, so the two engines cannot
    * drift cell by cell. */
  private[operators] def dhashCaseSql(h: String): String =
    (for { r <- 0 until DhashRows; c <- 0 until DhashCols } yield
      s"CASE WHEN md5($h || ':$r:${c + 1}') > md5($h || ':$r:$c') " +
        "THEN '1' ELSE '0' END").mkString(" || ")

  /** REAL pixel-level dHash of an image payload: decode via
    * javax.imageio (PNG/JPEG/GIF/BMP — JDK built-in, no external
    * codec), area-average the luminance onto the 8×9 grid, then the
    * standard gradient bits — bit(r,c) = gray(r,c+1) > gray(r,c).
    * Area averaging (not point sampling) is what makes two lossy
    * re-encodes of the same picture land within a few bits: JPEG
    * perturbs individual pixels but block means barely move
    * (MultimodalSpec pins PNG-vs-JPEG of one image at Hamming ≤ 3 and
    * two different images far apart). Returns None when the bytes are
    * not a decodable image — the caller falls back to the labeled
    * stub, the same dispatch discipline as the real header decode. */
  private[operators] def dhashOfImage(payload: Array[Byte]): Option[String] = {
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      catch { case _: Exception => null }
    if (img == null || img.getWidth < 1 || img.getHeight < 1) None
    else {
      val gridCols = DhashCols + 1
      val w = img.getWidth
      val h = img.getHeight
      val g = Array.ofDim[Double](DhashRows, gridCols)
      var r = 0
      while (r < DhashRows) {
        val y0 = r * h / DhashRows
        val y1 = math.max(y0 + 1, (r + 1) * h / DhashRows)
        var c = 0
        while (c < gridCols) {
          val x0 = c * w / gridCols
          val x1 = math.max(x0 + 1, (c + 1) * w / gridCols)
          var sum = 0.0
          var n = 0
          var y = y0
          while (y < y1) {
            var x = x0
            while (x < x1) {
              val rgb = img.getRGB(x, y)
              // integer Rec.601 luma — deterministic across platforms
              sum += ((rgb >> 16 & 0xff) * 299 + (rgb >> 8 & 0xff) * 587 +
                (rgb & 0xff) * 114) / 1000.0
              n += 1
              x += 1
            }
            y += 1
          }
          g(r)(c) = sum / n
          c += 1
        }
        r += 1
      }
      val bits = new Array[Char](DhashRows * DhashCols)
      r = 0
      while (r < DhashRows) {
        var c = 0
        while (c < DhashCols) {
          bits(r * DhashCols + c) = if (g(r)(c + 1) > g(r)(c)) '1' else '0'
          c += 1
        }
        r += 1
      }
      Some(new String(bits))
    }
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  /** Scala twin of the column-path [[dhashBits]] stub — byte-identical
    * md5-chain arithmetic (hex strings compared lexicographically,
    * exactly Spark's UTF8 binary string comparison on ASCII hex), so
    * the typed dispatch path and the oracled column path produce the
    * SAME bits for synthetic payloads (MultimodalSpec pins it). */
  /** Lossless stub input for a raw payload. The byte-parity contract
    * with the oracled column path (which fingerprints the TEXT column)
    * holds for payloads that ARE valid UTF-8 — the synthetic corpus —
    * via a STRICT round-trippable decode. Anything else (genuine
    * audio/video byte streams) maps to a labeled hex spelling of the
    * raw bytes instead of a replacement-character collapse: the old
    * lenient decode sent every invalid sequence to U+FFFD, so two
    * DISTINCT binary payloads could share a fingerprint and produce
    * false Hamming-0 "near-dup" pairs. Both branches are injective, so
    * distinct payloads now always fingerprint distinctly (up to md5). */
  private[operators] def stubTextOf(payload: Array[Byte]): String = {
    val dec = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
      .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
      .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
    try dec.decode(java.nio.ByteBuffer.wrap(payload)).toString
    catch {
      case _: java.nio.charset.CharacterCodingException =>
        "hex:" + payload.map("%02x".format(_)).mkString
    }
  }

  private[operators] def dhashStubOf(text: String): String = {
    val h = md5Hex(text)
    val bits = for { r <- 0 until DhashRows; c <- 0 until DhashCols } yield
      if (md5Hex(s"$h:$r:${c + 1}") > md5Hex(s"$h:$r:$c")) '1' else '0'
    bits.mkString
  }

  /** One perceptual fingerprint per media row. */
  case class MediaBits(doc_id: Long, media_type: String, bits: String)

  /** Perceptual fingerprints with REAL dispatch, the batched
    * mapPartitions shape of extractFeatures: an image payload that
    * decodes (real PNG/JPEG bytes) gets the pixel-level dHash; every
    * other payload (synthetic text bytes, audio, video) falls back to
    * the labeled md5-grid stub — deterministic, and byte-identical to
    * the oracled column path. Payloads never shuffle: the fingerprint
    * is extracted in the scan stage and only (id, type, 64 bits) rows
    * move on. */
  def mediaDhash(media: Dataset[MediaRow], batchSize: Int = 64): Dataset[MediaBits] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        // per-batch codec setup would happen here (ImageIO reader reuse)
        batch.iterator.map { r =>
          val real = if (r.media_type == "image") dhashOfImage(r.payload) else None
          MediaBits(r.doc_id, r.media_type, real.getOrElse(
            dhashStubOf(stubTextOf(r.payload))))
        }
      }
    }
  }

  /** The perceptual pair algebra over ANY (doc_id, media_type, bits)
    * fingerprint table: dHash banding (4 × 16-bit bands — the
    * pigeonhole guarantees any pair within Hamming distance 3 shares a
    * band) with the per-bucket flood cap, then exact Hamming rerank on
    * candidates only. Identity is scoped per media type. Shared by the
    * oracled column path ([[mediaPhashPairs]]) and the real-decode
    * path ([[mediaPhashPairsReal]]) — the hash algebra is one code
    * path; only the fingerprint kernel differs. */
  private[operators] def mediaPhashPairsOf(ph: DataFrame, k: Int): DataFrame = {
    val bands = ph.select(col("doc_id"), col("media_type"), col("bits"),
        explode(sequence(lit(0), lit(DhashBands - 1))).as("band_idx"))
      .withColumn("band",
        substring(col("bits"), col("band_idx") * DhashBandLen + 1, lit(DhashBandLen)))
    val capped = bands.withColumn("df",
        count(lit(1)).over(Window.partitionBy("media_type", "band_idx", "band")))
      .filter(col("df") <= DhashMaxBandDf)
    // Exact Hamming via two 32-bit halves (r19, the simhashPairs
    // packing): the 64-char bitstring is condensed once per doc-band
    // row into two longs, so the candidate join and the dedup exchange
    // ship 16 bytes per side instead of a 64-char string, and the
    // per-pair distance is 2 xors + 2 popcounts instead of a 64-term
    // substring-compare expression — identical values (a substring
    // mismatch count over the bitstring IS the popcount of the xor;
    // MultimodalSpec + the dynamic oracle pin it). conv() is unsigned,
    // hence halves rather than one 64-bit conv.
    def half(off: Int) =
      conv(substring(col("bits"), off, 32), 2, 10).cast("long")
    val a = capped.select(col("media_type"), col("band_idx"), col("band"),
      col("doc_id").as("id_a"), half(1).as("a_hi"), half(33).as("a_lo"))
    val b = capped.select(col("media_type"), col("band_idx"), col("band"),
      col("doc_id").as("id_b"), half(1).as("b_hi"), half(33).as("b_lo"))
    val ham = bit_count(col("a_hi").bitwiseXOR(col("b_hi"))) +
      bit_count(col("a_lo").bitwiseXOR(col("b_lo")))
    a.join(b, Seq("media_type", "band_idx", "band"))
      .filter(col("id_a") < col("id_b"))
      .select(col("media_type"), col("id_a"), col("id_b"),
        col("a_hi"), col("a_lo"), col("b_hi"), col("b_lo"))
      .distinct()
      .select(col("media_type"), col("id_a"), col("id_b"),
        ham.cast("long").as("hamming"))
      .orderBy(col("hamming").asc, col("media_type").asc,
        col("id_a").asc, col("id_b").asc)
      .limit(k)
  }

  /** Perceptual near-dup pairs over the corpus media table — the
    * registered, fully-oracled query: the fingerprint is the
    * whole-stage-codegen'd md5-grid STUB (the driver corpus's payloads
    * are synthetic text bytes, never a decodable image, so the column
    * path IS the active branch there); the pair algebra is the shared
    * banding/cap/rerank above. Real images go through
    * [[mediaPhashPairsReal]], whose pixel branch MultimodalSpec pins
    * on PNG/JPEG fixtures. */
  def mediaPhashPairs(spark: SparkSession, dir: String, k: Int = 20): DataFrame =
    mediaPhashPairsOf(
      Tables.documents(spark, dir)
        .select(col("doc_id"),
          element_at(typedLit(Seq("image", "audio", "video")),
            (col("doc_id") % 3 + 1).cast("int")).as("media_type"),
          dhashBits(col("text")).as("bits")), k)

  /** Perceptual near-dup pairs with the REAL pixel kernel: fingerprints
    * from [[mediaDhash]] (decodable images → pixel dHash; everything
    * else → the stub, byte-identical to the column path), pairs from
    * the same shared algebra. This is the entry point a corpus of real
    * media files uses (compose with [[mediaTableFromFiles]]). */
  def mediaPhashPairsReal(media: Dataset[MediaRow], k: Int = 20): DataFrame =
    mediaPhashPairsOf(mediaDhash(media).toDF(), k)

  /** The REGISTERED real-pixel perceptual query: perceptual near-dup
    * pairs over a deterministic on-disk fixture of GENUINE encoded
    * media ([[MediaFixtures]] — real PNG/JPEG images via javax.imageio
    * plus binary audio/video payloads), through the binaryFile source
    * → typed decode → shared pair algebra, end to end. Its oracle is
    * DYNAMIC (the fitted-model discipline): the pixel fingerprints are
    * inlined as literals at dump time, and DuckDB replays the
    * band/cap/rerank algebra over them — so the driver hash-checks the
    * whole candidate pipeline while the decode kernel itself stays
    * pinned by MultimodalSpec's PNG-vs-JPEG fixtures. */
  def mediaPhashPairsRealFixture(spark: SparkSession): DataFrame =
    mediaPhashPairsReal(mediaTableFromFiles(spark, MediaFixtures.ensure()))

  /** Per-media-type rollup over the features — the "what's in this
    * 100 TB bucket" inventory query. */
  def mediaInventory(spark: SparkSession, dir: String): DataFrame =
    featuresColumnar(spark, dir)
      .groupBy("media_type")
      .agg(count(lit(1)).as("n_files"), sum(col("byte_len")).as("total_bytes"),
        max(col("byte_len")).as("max_bytes"))
      .orderBy("media_type")
}

/** Driver-contract registration for the multimodal set. */
object MultimodalModule extends QueryModule {
  import Multimodal._

  def queries = Map(
    "q_media_features" -> ((s: SparkSession, d: String) => featuresColumnar(s, d)),
    "q_media_inventory" -> ((s: SparkSession, d: String) => mediaInventory(s, d)),
    "q_media_frames" -> ((s: SparkSession, d: String) => frameSamples(s, d)),
    "q_media_audio" -> ((s: SparkSession, d: String) => audioFeatures(s, d)),
    "q_media_video" -> ((s: SparkSession, d: String) => videoFeatures(s, d)),
    "q_media_resize" -> ((s: SparkSession, d: String) => resizePlan(s, d)),
    "q_media_dedup" -> ((s: SparkSession, d: String) => mediaDedup(s, d)),
    "q_media_phash" -> ((s: SparkSession, d: String) => mediaPhashPairs(s, d)),
    "q_media_phash_real" ->
      ((s: SparkSession, _: String) => mediaPhashPairsRealFixture(s)))

  // DuckDB's sha256 hashes the VARCHAR's UTF-8 bytes — identical input
  // bytes to Spark's sha2(encode(text,'UTF-8'), 256).
  def oracles = Map(
    "q_media_features" ->
      """WITH m AS (SELECT doc_id,
        |    (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INT)] AS media_type,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
        |    sha256(text) AS sha256_hex
        |  FROM documents)
        |SELECT doc_id, media_type, byte_len, sha256_hex,
        |  CAST(1 + byte_len % 1024 AS INT) AS width,
        |  CAST(1 + (byte_len * 7) % 768 AS INT) AS height,
        |  CAST(CASE WHEN media_type = 'video' THEN 1 + byte_len % 250 ELSE 1 END AS INT) AS n_frames
        |FROM m ORDER BY doc_id""".stripMargin,
    "q_media_dedup" ->
      """WITH m AS (SELECT doc_id,
        |    (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INT)] AS media_type,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
        |    sha256(text) AS sha256_hex
        |  FROM documents)
        |SELECT media_type, sha256_hex, min(doc_id) AS keep_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_copies,
        |  CAST(MAX(byte_len) AS BIGINT) AS byte_len
        |FROM m GROUP BY media_type, sha256_hex
        |ORDER BY media_type, keep_id""".stripMargin,
    "q_media_phash" ->
      s"""WITH ph0 AS (SELECT doc_id, md5(text) AS h FROM documents),
        |ph AS (SELECT doc_id,
        |    (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INT)] AS media_type,
        |    (${Multimodal.dhashCaseSql("h")}) AS bits
        |  FROM ph0),
        |bands AS (SELECT doc_id, media_type, bits, band_idx,
        |    substr(bits, band_idx * 16 + 1, 16) AS band
        |  FROM ph, unnest(generate_series(0, 3)) AS u(band_idx)),
        |capped AS (SELECT * FROM (
        |    SELECT *, COUNT(*) OVER (PARTITION BY media_type, band_idx, band) AS df
        |    FROM bands) WHERE df <= 64),
        |cand AS (SELECT DISTINCT a.media_type, a.doc_id AS id_a, b.doc_id AS id_b,
        |    a.bits AS bits_a, b.bits AS bits_b
        |  FROM capped a JOIN capped b
        |    ON a.media_type = b.media_type AND a.band_idx = b.band_idx
        |   AND a.band = b.band AND a.doc_id < b.doc_id)
        |SELECT media_type, id_a, id_b,
        |  CAST(list_sum(list_transform(generate_series(1, 64),
        |    i -> CASE WHEN bits_a[i:i] = bits_b[i:i] THEN 0 ELSE 1 END)) AS BIGINT) AS hamming
        |FROM cand
        |ORDER BY hamming ASC, media_type ASC, id_a ASC, id_b ASC LIMIT 20""".stripMargin,
    "q_media_frames" ->
      """WITH m AS (SELECT doc_id, text,
        |    (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INT)] AS media_type,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS byte_len
        |  FROM documents),
        |v AS (SELECT doc_id, text, CAST(1 + byte_len % 250 AS INT) AS n_frames
        |      FROM m WHERE media_type = 'video')
        |SELECT doc_id, i AS frame_idx, n_frames,
        |  sha256(text || ':' || CAST(i AS VARCHAR)) AS frame_sha
        |FROM v, unnest(generate_series(0, n_frames - 1, 5)) AS u(i)
        |ORDER BY doc_id, frame_idx""".stripMargin,
    "q_media_audio" ->
      """WITH m AS (SELECT doc_id,
        |    (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INT)] AS media_type,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS byte_len
        |  FROM documents),
        |a AS (SELECT doc_id, byte_len,
        |    ([8000,16000,22050,44100,48000])[CAST(byte_len % 5 + 1 AS INT)] AS sample_rate,
        |    CAST(1 + byte_len % 2 AS INT) AS channels,
        |    CAST(8 * (1 + byte_len % 3) AS INT) AS bits_per_sample,
        |    CAST(1 + (byte_len * 13) % 480000 AS INT) AS n_samples
        |  FROM m WHERE media_type = 'audio')
        |SELECT doc_id, byte_len, sample_rate, channels, bits_per_sample, n_samples,
        |  (CAST(n_samples AS BIGINT) * 1000) // sample_rate AS duration_ms
        |FROM a ORDER BY doc_id""".stripMargin,
    "q_media_video" ->
      """WITH m AS (SELECT doc_id,
        |    (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INT)] AS media_type,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS byte_len
        |  FROM documents),
        |v AS (SELECT doc_id, byte_len,
        |    ([600,1000,90000,24000,30000])[CAST(byte_len % 5 + 1 AS INT)] AS timescale,
        |    1 + (byte_len * 17) % 3600000 AS duration_units,
        |    CAST(1 + byte_len % 250 AS INT) AS n_frames
        |  FROM m WHERE media_type = 'video')
        |SELECT doc_id, byte_len, CAST(timescale AS BIGINT) AS timescale,
        |  CAST(duration_units AS BIGINT) AS duration_units, n_frames,
        |  (duration_units * 1000) // timescale AS duration_ms
        |FROM v ORDER BY doc_id""".stripMargin,
    "q_media_resize" ->
      """WITH m AS (SELECT doc_id,
        |    (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INT)] AS media_type,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS byte_len
        |  FROM documents),
        |f AS (SELECT doc_id,
        |    CAST(1 + byte_len % 1024 AS INT) AS width,
        |    CAST(1 + (byte_len * 7) % 768 AS INT) AS height
        |  FROM m WHERE media_type = 'image')
        |SELECT doc_id, width, height,
        |  CASE WHEN greatest(width, height) <= 256 THEN CAST(width AS BIGINT)
        |       ELSE (width * 256) // greatest(width, height) END AS out_w,
        |  CASE WHEN greatest(width, height) <= 256 THEN CAST(height AS BIGINT)
        |       ELSE (height * 256) // greatest(width, height) END AS out_h
        |FROM f ORDER BY doc_id""".stripMargin,
    "q_media_inventory" ->
      """WITH m AS (SELECT doc_id,
        |    (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INT)] AS media_type,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS byte_len
        |  FROM documents)
        |SELECT media_type, COUNT(*) AS n_files,
        |  CAST(SUM(byte_len) AS BIGINT) AS total_bytes,
        |  MAX(byte_len) AS max_bytes
        |FROM m GROUP BY media_type ORDER BY media_type""".stripMargin)

  /** q_media_phash_real's oracle can only exist with the data in hand:
    * the REAL pixel fingerprints (javax.imageio decode → area-averaged
    * dHash) are computed over the fixture at dump time and inlined as
    * literals; DuckDB then replays the SAME band/cap/Hamming-rerank
    * algebra the stub oracle proves — the fitted-centroid discipline
    * applied to a decode kernel SQL cannot express. */
  override def dynamicOracles(spark: SparkSession, dir: String): Map[String, String] = {
    val fp = Multimodal.mediaDhash(
        Multimodal.mediaTableFromFiles(spark, MediaFixtures.ensure()))
      .collect().sortBy(_.doc_id)
    val values = fp.map(b =>
      s"(CAST(${b.doc_id} AS BIGINT), '${b.media_type}', '${b.bits}')")
      .mkString(",\n        ")
    Map("q_media_phash_real" ->
      s"""WITH ph AS (SELECT * FROM (VALUES $values)
        |    AS t(doc_id, media_type, bits)),
        |bands AS (SELECT doc_id, media_type, bits, band_idx,
        |    substr(bits, band_idx * 16 + 1, 16) AS band
        |  FROM ph, unnest(generate_series(0, 3)) AS u(band_idx)),
        |capped AS (SELECT * FROM (
        |    SELECT *, COUNT(*) OVER (PARTITION BY media_type, band_idx, band) AS df
        |    FROM bands) WHERE df <= 64),
        |cand AS (SELECT DISTINCT a.media_type, a.doc_id AS id_a, b.doc_id AS id_b,
        |    a.bits AS bits_a, b.bits AS bits_b
        |  FROM capped a JOIN capped b
        |    ON a.media_type = b.media_type AND a.band_idx = b.band_idx
        |   AND a.band = b.band AND a.doc_id < b.doc_id)
        |SELECT media_type, id_a, id_b,
        |  CAST(list_sum(list_transform(generate_series(1, 64),
        |    i -> CASE WHEN bits_a[i:i] = bits_b[i:i] THEN 0 ELSE 1 END)) AS BIGINT) AS hamming
        |FROM cand
        |ORDER BY hamming ASC, media_type ASC, id_a ASC, id_b ASC LIMIT 20""".stripMargin)
  }
}

/** Deterministic on-disk fixture of REAL encoded media — the input a
  * registered query needs to exercise the pixel-decode branch (the
  * driver corpus's payloads are synthetic text bytes, never a
  * decodable image). Written once per machine under java.io.tmpdir
  * and published whole ([[graft.sinks.LocalFiles.publishOnce]], as the
  * ALTO bulk corpus is); contents are generated in-process,
  * byte-deterministic given the JDK's PNG/JPEG encoders:
  *
  *  - `pic_a.png` / `pic_a_reenc.jpg` — the SAME plateau picture
  *    through two encoders: the pair the perceptual query must rank
  *    first (lossy JPEG noise cannot flip an area-averaged gradient
  *    bit across a ≥30-luma plateau step);
  *  - `pic_b.png` — a different picture, far in Hamming distance;
  *  - `hiss.wav` / `tone.wav` / `clip.mp4` — DISTINCT non-UTF-8 binary
  *    payloads exercising the lossless stub fallback (distinct bytes →
  *    distinct fingerprints, the r17 injectivity fix). */
private[graft] object MediaFixtures {
  import java.awt.image.BufferedImage

  private def render(w: Int, h: Int)(f: (Int, Int) => Int): BufferedImage = {
    val b = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) b.setRGB(x, y, f(x, y))
    b
  }

  // nine luminance plateaus aligned to the dHash grid's nine columns;
  // the 1-unit row dither stays far under the 30-luma plateau steps
  private def plateau(vals: Array[Int]): BufferedImage =
    render(96, 64) { (x, y) =>
      val v = vals(x * vals.length / 96) + (y % 2)
      (v << 16) | (v << 8) | v
    }

  private def encode(img: BufferedImage, fmt: String): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    require(javax.imageio.ImageIO.write(img, fmt, bos),
      s"no ImageIO writer for $fmt")
    bos.toByteArray
  }

  /** Deterministic non-UTF-8 byte blob: a multiplicative byte walk
    * seeded per file; bytes ≥ 0x80 land outside valid UTF-8 sequences
    * so the stub fallback's strict-decode branch rejects it. */
  private def blob(seed: Int, n: Int): Array[Byte] =
    Array.tabulate(n)(i => ((i * 37 + seed * 101 + 0x80) & 0xFF).toByte)

  def ensure(): String = synchronized {
    val dir = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft_media_fixture_v2")
    graft.sinks.LocalFiles.publishOnce(dir) { stage =>
      def put(name: String, bytes: Array[Byte]): Unit =
        java.nio.file.Files.write(stage.resolve(name), bytes)
      val picA = plateau(Array(30, 200, 80, 230, 10, 160, 60, 250, 110))
      val picB = plateau(Array(10, 40, 70, 100, 130, 160, 190, 220, 250))
      put("pic_a.png", encode(picA, "png"))
      put("pic_a_reenc.jpg", encode(picA, "jpg"))
      put("pic_b.png", encode(picB, "png"))
      put("hiss.wav", blob(1, 512))
      put("tone.wav", blob(2, 512))
      put("clip.mp4", blob(3, 768))
    }.toString
  }
}
