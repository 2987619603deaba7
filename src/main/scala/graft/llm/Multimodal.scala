package graft.llm

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: opaque binary payloads with typed metadata,
  * and a batched decode/feature-extract stage.
  *
  * The container has no image/audio codecs, so `decodeFeatures` STUBS the
  * actual decode with a deterministic byte-level extractor — but the
  * Spark-side plumbing is real and is what matters at 100 TB: binary column +
  * metadata struct schema, batched per-partition processing (the Scala
  * analogue of `mapInPandas` batches), and a narrow, shuffle-free plan. A
  * real deployment swaps `stubDecode` for a codec call; nothing else changes.
  */
object Multimodal {

  /** Attach an opaque binary payload (here: utf-8 bytes standing in for
    * image bytes) and typed metadata derived without decoding. */
  def withPayload(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .withColumn("payload", encode(col(textCol), "utf-8"))
      .withColumn("meta", struct(
        octet_length(col(textCol)).as("n_bytes"),
        substring(md5(col(textCol)), 1, 8).as("content_id"),
        (lit(64) + pmod(octet_length(col(textCol)), lit(512))).as("width"),
        (lit(64) + pmod(octet_length(col(textCol)) * 7, lit(512))).as("height")))

  private val PngSignature: Array[Byte] =
    Array(0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A)

  /** A REAL PNG signature + IHDR chunk layout (8-byte magic, 4-byte chunk
    * length 13, "IHDR", big-endian width/height, bit depth 8, color type
    * 2 truecolor, default compression/filter/interlace) followed by the
    * given body bytes. Int→big-endian-bytes is `unhex(lpad(hex(x), n))` —
    * pure column algebra. The chunk CRC is zeroed (computing CRC-32 in
    * column algebra buys nothing for parsing) and there is no IDAT/IEND,
    * so this is a header-faithful container for parser tests, not a
    * renderable image — the pixel payload is where the codec stub stays. */
  def pngHeader(width: Column, height: Column, body: Column): Column =
    concat(
      lit(PngSignature),
      unhex(lit("0000000D")),                       // IHDR length = 13
      encode(lit("IHDR"), "utf-8"),
      unhex(lpad(hex(width), 8, "0")),              // big-endian i32
      unhex(lpad(hex(height), 8, "0")),
      unhex(lit("080200000000000000")),             // depth 8, color 2, crc 0
      body)

  /** Parse PNG metadata from a binary column — REAL parsing that works on
    * actual PNG files (signature check + fixed IHDR offsets, big-endian),
    * not a stand-in: `is_png`, and for PNG payloads width/height/bit
    * depth/color type (null otherwise). Pure codegen'd column algebra
    * (substring/hex/conv on binary) — no UDF, no codec, map-only. */
  def pngMeta(df: DataFrame, payloadCol: String = "payload"): DataFrame = {
    val bin = col(payloadCol)
    def beInt(pos: Int, len: Int): Column =
      conv(hex(substring(bin, pos, len)), 16, 10).cast("long")
    val isPng = octet_length(bin) >= 33 &&
      substring(bin, 1, 8) === lit(PngSignature) &&
      substring(bin, 13, 4) === encode(lit("IHDR"), "utf-8")
    df.withColumn("is_png", isPng.cast("int"))
      .withColumn("png_width", when(isPng, beInt(17, 4)))
      .withColumn("png_height", when(isPng, beInt(21, 4)))
      .withColumn("png_bit_depth", when(isPng, beInt(25, 1).cast("int")))
      .withColumn("png_color_type", when(isPng, beInt(26, 1).cast("int")))
  }

  /** [[withPayload]] with a real PNG-container payload: the header carries
    * the metadata-derived dimensions, the body is the utf-8 text bytes
    * standing in for pixel data. [[pngMeta]] round-trips the header. */
  def withPngPayload(docs: DataFrame, textCol: String = "text"): DataFrame =
    withPayload(docs, textCol)
      .withColumn("payload",
        pngHeader(col("meta.width"), col("meta.height"),
          encode(col(textCol), "utf-8")))

  /** Little-endian int→bytes for RIFF containers: lpad(hex) then reorder
    * the hex byte-pairs back-to-front before unhex. */
  private def leBytes(x: Column, nBytes: Int): Column =
    unhex(reverseHexBytes(lpad(hex(x), nBytes * 2, "0")))

  /** Reverse the byte order of an even-length hex string: reverse every
    * digit, then swap each digit pair back. The string appears once in
    * the expression, not once per byte: a filter the optimizer pushes
    * through [[wavMeta]] inlines the whole payload expression at every
    * reference, and per-byte references grew one generated method past
    * the JVM's 64 KB limit. */
  private def reverseHexBytes(h: Column): Column =
    regexp_replace(reverse(h), "(.)(.)", "$2$1")

  /** A REAL canonical 44-byte WAV/RIFF PCM header (RIFF size, "WAVE",
    * "fmt " chunk with format 1, channels, sample rate, derived byte
    * rate/block align, bits per sample, "data" chunk with the body size)
    * followed by the body bytes — the little-endian dual of [[pngHeader]];
    * renderable players would want real PCM in the body, which is where
    * the codec stub stays. */
  def wavHeader(channels: Column, sampleRate: Column, bitsPerSample: Column,
                body: Column): Column = {
    val blockAlign = channels * bitsPerSample / 8
    val byteRate = sampleRate * blockAlign
    val dataLen = octet_length(body)
    concat(
      encode(lit("RIFF"), "utf-8"), leBytes(dataLen + 36, 4),
      encode(lit("WAVE"), "utf-8"),
      encode(lit("fmt "), "utf-8"), leBytes(lit(16), 4),
      leBytes(lit(1), 2),                       // PCM
      leBytes(channels, 2),
      leBytes(sampleRate, 4),
      leBytes(byteRate, 4),
      leBytes(blockAlign, 2),
      leBytes(bitsPerSample, 2),
      encode(lit("data"), "utf-8"), leBytes(dataLen, 4),
      body)
  }

  /** Parse WAV/RIFF PCM metadata from a binary column — real parsing for
    * actual .wav bytes (RIFF/WAVE/fmt magic at fixed offsets,
    * little-endian fields): `is_wav`, channels, sample rate, bits per
    * sample, data byte count, and the derived duration in milliseconds.
    * Pure codegen'd binary column algebra, map-only. */
  def wavMeta(df: DataFrame, payloadCol: String = "payload"): DataFrame = {
    val bin = col(payloadCol)
    def leInt(pos: Int, len: Int): Column =
      conv(reverseHexBytes(hex(substring(bin, pos, len))), 16, 10)
        .cast("long")
    // one reference to the payload: "RIFF", the 4-byte size, "WAVEfmt ",
    // then the other 28 bytes of the 44-byte header, as hex digits
    val isWav = hex(substring(bin, 1, 44))
      .rlike("^52494646.{8}57415645666D7420.{56}$")
    val rate = when(isWav, leInt(25, 4))
    val channels = when(isWav, leInt(23, 2))
    val bits = when(isWav, leInt(35, 2))
    val dataBytes = when(isWav, leInt(41, 4))
    df.withColumn("is_wav", isWav.cast("int"))
      .withColumn("wav_channels", channels.cast("int"))
      .withColumn("wav_sample_rate", rate)
      .withColumn("wav_bits", bits.cast("int"))
      .withColumn("wav_data_bytes", dataBytes)
      .withColumn("wav_duration_ms",
        round(dataBytes * 8000.0 / (rate * channels * bits), 3))
  }

  /** [[withPayload]] with a real WAV-container payload: metadata-derived
    * audio parameters, utf-8 text bytes standing in for PCM samples. */
  def withWavPayload(docs: DataFrame, textCol: String = "text"): DataFrame =
    withPayload(docs, textCol)
      .withColumn("payload",
        wavHeader(
          lit(1) + pmod(octet_length(col(textCol)), lit(2)),
          lit(8000) + pmod(octet_length(col(textCol)), lit(8)) * 1000,
          lit(16),
          encode(col(textCol), "utf-8")))

  /** Big-endian u16 → 2 bytes, the JPEG segment-length/dimension codec. */
  private def be16(x: Column): Column = unhex(lpad(hex(x), 4, "0"))

  /** A REAL multi-segment JPEG header: SOI, a canonical 16-byte APP0/JFIF
    * segment, a VARIABLE-length COM segment carrying `comment`, then an
    * SOF0 frame header (8-bit precision, big-endian height/width, 3
    * components with standard 4:2:0-style specs) followed by the body.
    * The COM payload is what makes this the variable-offset test case:
    * the SOF position differs per row with the comment's byte length,
    * exactly like real .jpg files whose EXIF/comment/quant segments
    * precede the frame header — a parser with fixed offsets cannot read
    * this container, [[jpegMeta]]'s marker walk can. No entropy-coded
    * scan/EOI (the codec stub's territory), so headers parse but nothing
    * renders. */
  def jpegHeader(width: Column, height: Column, comment: Column,
                 body: Column): Column = {
    val com = encode(comment, "utf-8")
    concat(
      unhex(lit("FFD8")),                              // SOI
      unhex(lit("FFE0")), be16(lit(16)),               // APP0, len 16
      encode(lit("JFIF"), "utf-8"), unhex(lit("00")),
      unhex(lit("010100000100010000")),                // v1.1, densities
      unhex(lit("FFFE")), be16(octet_length(com) + 2), // COM, len varies
      com,
      unhex(lit("FFC0")), be16(lit(17)),               // SOF0, len 17
      unhex(lit("08")),                                // precision 8
      be16(height), be16(width),
      unhex(lit("03")),                                // 3 components
      unhex(lit("012200021101031101")),                // component specs
      body)
  }

  /** Parse JPEG SOF metadata from a binary column — REAL parsing for
    * actual .jpg bytes: the [[graft.functions.JpegSofMeta]] native
    * expression walks the marker stream (data-dependent segment lengths —
    * a loop, not fixed offsets) to the first SOFn and packs its fields
    * into one long; this unpacks them with codegen'd bit algebra. NULL
    * metadata (is_jpeg 0) for non-JPEG payloads, corrupt marker streams,
    * and frames truncated before their SOF. Map-only, no UDF. */
  def jpegMeta(df: DataFrame, payloadCol: String = "payload"): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    val packed = GraftBridge.column(graft.functions.JpegSofMeta(
      GraftBridge.expression(col(payloadCol))))
    def field(shift: Int, mask: Long) =
      shiftright(col("_jm"), shift).bitwiseAND(lit(mask))
    df.withColumn("_jm", packed)
      .withColumn("is_jpeg", col("_jm").isNotNull.cast("int"))
      .withColumn("jpeg_marker", field(48, 0xFFL).cast("int"))
      .withColumn("jpeg_width", field(32, 0xFFFFL))
      .withColumn("jpeg_height", field(16, 0xFFFFL))
      .withColumn("jpeg_precision", field(8, 0xFFL).cast("int"))
      .withColumn("jpeg_components", field(0, 0xFFL).cast("int"))
      .drop("_jm")
  }

  /** [[withPayload]] with a real JPEG-container payload: metadata-derived
    * dimensions in the SOF0, a per-row VARIABLE-length comment (a text
    * prefix) ahead of it so the frame header lands at a different offset
    * on every row, utf-8 text bytes standing in for scan data. */
  def withJpegPayload(docs: DataFrame, textCol: String = "text"): DataFrame =
    withPayload(docs, textCol)
      .withColumn("payload",
        jpegHeader(col("meta.width"), col("meta.height"),
          col(textCol).substr(lit(1),
            lit(5) + pmod(octet_length(col(textCol)), lit(17))),
          encode(col(textCol), "utf-8")))

  /** STUB decode: deterministic byte statistics standing in for a codec.
    * Marked clearly; a real build replaces only this function. */
  private def stubDecode(bytes: Array[Byte]): (Double, Int, Array[Long]) = {
    var sum = 0L
    var mx = 0
    val hist = new Array[Long](4)
    var i = 0
    while (i < bytes.length) {
      val v = bytes(i) & 0xff
      sum += v
      if (v > mx) mx = v
      hist(v >> 6) += 1
      i += 1
    }
    val mean = if (bytes.length == 0) 0.0 else sum.toDouble / bytes.length
    (mean, mx, hist)
  }

  /** Frame sampling over a "video" payload: treat the binary as fixed-size
    * frames, keep every `everyN`-th, one output row per sampled frame —
    * the distributed explode pattern real frame extraction uses (slicing is
    * pure SQL; per-frame decode goes through the same batched stub). A
    * short trailing frame is kept, like a real container's last frame. */
  def frameSample(withPayloads: DataFrame, frameBytes: Int = 256, everyN: Int = 2,
                  payloadCol: String = "payload"): DataFrame = {
    val nFrames = ceil(octet_length(col(payloadCol)).cast("double") / frameBytes)
      .cast("int")
    val frames = withPayloads
      .withColumn("frame_idx",
        explode(sequence(lit(0), greatest(nFrames - 1, lit(0)))))
      .where(pmod(col("frame_idx"), lit(everyN)) === 0)
      .withColumn("frame",
        substring(col(payloadCol), col("frame_idx") * frameBytes + 1, lit(frameBytes)))
    decodeFeatures(frames.drop(payloadCol), "frame")
  }

  /** STUB resize: deterministic fake that truncates/pads the payload to the
    * target pixel budget and rewrites the metadata struct — the schema and
    * per-row shape of a real resize; only this function changes with a real
    * codec. */
  def resizeStub(withPayloads: DataFrame, w: Int, h: Int,
                 payloadCol: String = "payload"): DataFrame = {
    val target = w * h / 64
    withPayloads
      .withColumn(payloadCol,
        rpad(substring(col(payloadCol), 1, target), target, Array[Byte](0)))
      .withColumn("meta", struct(
        lit(target).as("n_bytes"),
        col("meta.content_id").as("content_id"),
        lit(w).as("width"), lit(h).as("height")))
  }

  /** 64-bit perceptual dHash of the binary payload — the image near-dup
    * fingerprint (block-mean 9×8 grid + horizontal gradient signs; the
    * block-mean sampler is the deterministic resize stub, the gradient
    * hash is the real dHash algebra — see [[graft.functions.DHash64]]).
    * Map-only native codegen; empty payloads hash to null and therefore
    * never pair. */
  def withDHash(withPayloads: DataFrame,
                payloadCol: String = "payload"): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    withPayloads.withColumn("dhash", GraftBridge.column(
      graft.functions.DHash64(GraftBridge.expression(col(payloadCol)))))
  }

  /** Perceptual near-duplicate pairs over the binary payload column — the
    * image-dedup pass of a multimodal curation pipeline (CLIP-era corpora
    * dedup screenshots/resaves/crops whose BYTES differ but whose pixels
    * barely do): [[withDHash]] fingerprints map-side, then the
    * Hamming-banded candidate join is EXACTLY the text SimHash machinery
    * ([[SimHash.nearDupPairsOnFingerprint]] — 4×16-bit band chunks,
    * equi-join per chunk, exact bit_count(XOR) ≤ `maxHamming` verify,
    * optional `maxBucket` hot-chunk guard). Never all-pairs: candidates
    * only ever meet through band-chunk equality, the same 100 TB posture
    * as every near-dup operator here.
    *
    * Output: (id1, id2, fp1, fp2, hamming) for pairs within
    * `maxHamming` bits. */
  def perceptualNearDup(withPayloads: DataFrame, maxHamming: Int = 10,
                        idCol: String = "doc_id",
                        payloadCol: String = "payload",
                        maxBucket: Option[Int] = None): DataFrame =
    SimHash.nearDupPairsOnFingerprint(withDHash(withPayloads, payloadCol),
      maxHamming, idCol, "dhash", maxBucket)

  /** CONTAINER-AWARE dHash over real PNG/JPEG payload bytes
    * ([[graft.functions.DHash64Container]]): the #37c/#37e header parses
    * (PNG fixed offsets, JPEG marker walk) locate the decoded-payload
    * region and its pixel width, and the 9×8 dHash grid tiles THAT
    * region row-major at the parsed width — the real pipeline's
    * geometry, where an in-place edit perturbs exactly the grid cells
    * covering its pixel rectangle and the variable-length JPEG header
    * (comment/EXIF drift) never smears into the hash. Non-container
    * payloads fall back to the opaque whole-payload [[withDHash]] grid,
    * so one hash column serves a mixed corpus. Map-only native codegen;
    * empty payloads/regions hash to null and never pair. */
  def withContainerDHash(withPayloads: DataFrame,
                         payloadCol: String = "payload"): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    withPayloads.withColumn("dhash", GraftBridge.column(
      graft.functions.DHash64Container(
        GraftBridge.expression(col(payloadCol)))))
  }

  /** [[perceptualNearDup]] with the container-aware fingerprint — same
    * Hamming-banded join, hashes from [[withContainerDHash]]. The pair
    * an opaque hash CANNOT catch: the same pixels behind different-length
    * headers (a re-save that rewrote the JPEG comment shifts every body
    * byte, smearing the opaque byte-stream grid; the container grid is
    * offset-anchored and identical). */
  def perceptualNearDupContainers(withPayloads: DataFrame,
                                  maxHamming: Int = 10,
                                  idCol: String = "doc_id",
                                  payloadCol: String = "payload",
                                  maxBucket: Option[Int] = None): DataFrame =
    SimHash.nearDupPairsOnFingerprint(withContainerDHash(withPayloads, payloadCol),
      maxHamming, idCol, "dhash", maxBucket)

  /** The perceptual INDEX relation for [[perceptualNearDupIncremental]]:
    * one row per accepted image with its 64-bit dHash — 8 bytes/doc, a
    * vanishing fraction of payload bytes, and every later batch dedups
    * against it without touching historical payloads (the
    * [[MinHashLsh.buildIndex]] contract at image grain). Empty payloads
    * (null hash) are excluded — nothing to fingerprint, nothing to
    * match. In the lake layout this relation is stored bucketed on the
    * band chunks so each batch's candidate join co-locates. */
  def buildDHashIndex(withPayloads: DataFrame, idCol: String = "doc_id",
                      payloadCol: String = "payload"): DataFrame =
    withDHash(withPayloads, payloadCol)
      .where(col("dhash").isNotNull)
      .select(col(idCol), col("dhash"))

  /** Incremental perceptual dedup — the growing-image-corpus production
    * shape (daily crawl batches against the accumulated [[buildDHashIndex]]
    * relation), the image twin of [[MinHashLsh.nearDupIncremental]].
    * Returns one row per batch doc: (idCol, status, match_id, hamming)
    * with status ∈ {dup_of_index, dup_in_batch, accepted, unhashable};
    * match_id is the min matching index id (with that pair's Hamming
    * distance) for dup_of_index, the cluster survivor for dup_in_batch
    * (hamming null — membership may be transitive), null otherwise;
    * empty payloads report `unhashable` rather than silently passing as
    * accepted. The accepted rows are what gets appended to the corpus
    * AND (via [[buildDHashIndex]]) to the index.
    *
    * The dHash map pass is O(batch), verification is one bit_count per
    * candidate pair, and historical payloads appear nowhere — the index
    * ships 8-byte hashes. Decisions are bit-identical to a full
    * [[perceptualNearDup]] pass over history ∪ batch restricted to pairs
    * touching the batch (LlmSpec pins it). The mechanism, `maxBucket`'s
    * combined cap and the returned frame's lifecycle are
    * [[MinHashLsh.decideIncremental]]'s. */
  def perceptualNearDupIncremental(batch: DataFrame, dhashIndex: DataFrame,
                                   maxHamming: Int = 10,
                                   idCol: String = "doc_id",
                                   payloadCol: String = "payload",
                                   maxBucket: Option[Int] = None): DataFrame =
    MinHashLsh.checkpointed(perceptualNearDupIncrementalPinned(batch,
      dhashIndex, maxHamming, idCol, payloadCol, maxBucket))

  /** The lazy plan behind [[perceptualNearDupIncremental]] plus its
    * release thunk ([[MinHashLsh.decideIncremental]]); the cached batch
    * relation is the id and its 8-byte hash. */
  private[graft] def perceptualNearDupIncrementalPinned(
      batch: DataFrame, dhashIndex: DataFrame,
      maxHamming: Int = 10,
      idCol: String = "doc_id",
      payloadCol: String = "payload",
      maxBucket: Option[Int] = None): (DataFrame, () => Unit) =
    MinHashLsh.decideIncremental(batch, dhashIndex, idCol, maxBucket,
      fingerprint = withDHash(_, payloadCol).select(col(idCol), col("dhash")),
      keys = Seq("band", "chunk"),
      bandKeys = SimHash.bandChunks(_, idCol, "dhash"),
      score = "hamming",
      // no distinct before the aggregation: a pair matching in several
      // band chunks emits duplicate (batch_id, index_id, hamming) rows, but
      // min / min_by are duplicate-insensitive (hamming is a function of
      // the pair), and the verify is a map-side bit_count, not a join
      // worth deduplicating candidates for
      verify = (cand, _) => cand.select(col("batch_id"), col("index_id"),
          bit_count(col("batch_dhash").bitwiseXOR(col("index_dhash")))
            .as("hamming"))
        .where(col("hamming") <= maxHamming),
      within = SimHash.nearDupPairsOnFingerprint(_, maxHamming, idCol,
        "dhash", maxBucket),
      hashable = Some(col("dhash").isNotNull))

  /** Batched per-partition "decode" over the binary payload — the real
    * plumbing (schema, batching, partition-parallel, no shuffle) with the
    * codec stubbed. */
  def decodeFeatures(withPayloads: DataFrame, payloadCol: String = "payload"): DataFrame = {
    val schema = StructType(withPayloads.schema.fields ++ Seq(
      StructField("mean_byte", DoubleType),
      StructField("max_byte", IntegerType),
      StructField("byte_hist", ArrayType(LongType))))
    val idx = withPayloads.schema.fieldIndex(payloadCol)
    withPayloads.mapPartitions { it =>
      it.map { row =>
        val bytes = row.getAs[Array[Byte]](idx)
        val (mean, mx, hist) = stubDecode(bytes)
        Row.fromSeq(row.toSeq ++ Seq(mean, mx, hist.toSeq))
      }
    }(Encoders.row(schema))
  }
}
