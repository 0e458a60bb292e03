package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video payloads ride as opaque
  * `binary` columns next to a typed metadata struct; decode / feature
  * extraction runs batch-wise inside mapPartitions.
  *
  * The decode itself is a STUB (no image/audio libraries in this
  * container): `stubDecode` derives deterministic fake dimensions from the
  * byte payload. The Spark-side plumbing — schema, case classes, batched
  * partition processing, partition sizing — is real and tested. At cluster
  * scale, binary payloads dominate row size: keep
  * spark.sql.files.maxPartitionBytes at its default 128 MB so a partition
  * holds a bounded number of blobs, and never collect() a binary column.
  */
object Multimodal {

  case class MediaRow(doc_id: Long, payload: Array[Byte], format: String)
  case class DecodedMeta(doc_id: Long, format: String, byte_len: Int,
                         width: Int, height: Int, ok: Boolean)

  /** documents.text re-cast as a binary payload column with a format tag —
    * the shape a real image/audio table has. */
  def asMediaTable(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      col("text").cast("binary").as("payload"),
      element_at(array(lit("jpeg"), lit("png"), lit("webp")),
        (col("doc_id") % 3 + 1).cast("int")).as("format"))

  /** STUB decoder — stands in for an image library. Deterministic fake:
    * dimensions derived from payload length. A real deployment swaps ONLY
    * this function; the partition-batched plumbing stays. */
  def stubDecode(row: MediaRow): DecodedMeta = {
    val n = row.payload.length
    DecodedMeta(row.doc_id, row.format, n,
      width = (n % 640) + 1, height = (n % 480) + 1, ok = n > 0)
  }

  /** Formats the JRE's bundled ImageIO readers are guaranteed to decode
    * (javax.imageio ships png/jpeg/gif/bmp/wbmp readers — no external
    * library). */
  val jdkDecodableFormats: Set[String] = Set("png", "jpeg", "gif", "bmp")

  /** REAL image decode on the JDK's bundled ImageIO readers. Returns the
    * true pixel dimensions; an unparseable payload (wrong magic, truncated
    * file) reports ok=false with -1 dimensions rather than plausible
    * fakes. ImageIO sniffs the container from the payload's magic bytes,
    * so a mis-tagged but decodable payload still decodes — the format tag
    * only routes WHICH rows attempt a real decode. */
  def decodeImage(row: MediaRow): DecodedMeta = {
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(row.payload))
      catch { case _: Exception => null }
    if (img == null)
      DecodedMeta(row.doc_id, row.format, row.payload.length, -1, -1, ok = false)
    else
      DecodedMeta(row.doc_id, row.format, row.payload.length,
        img.getWidth, img.getHeight, ok = true)
  }

  /** Per-row dispatch: JDK-decodable formats decode for real, formats
    * without a guaranteed JDK reader (webp, video, audio) keep the
    * deterministic stub. */
  def decodeOne(row: MediaRow): DecodedMeta =
    if (jdkDecodableFormats(row.format)) decodeImage(row) else stubDecode(row)

  /** Batched decode over partitions: the real-decoder integration point
    * (mapPartitions so a JNI/native decoder initializes once per partition,
    * not once per row). */
  def decodeMeta(spark: SparkSession, media: DataFrame): Dataset[DecodedMeta] = {
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows => rows.map(decodeOne) }
  }

  case class ResizedMedia(doc_id: Long, format: String,
                          width: Int, height: Int, payload: Array[Byte])

  /** Fallback for NON-decodable payloads (formats with no JDK reader, wrong
    * magic): clamps the payload to width*height/8 bytes so output row size
    * is still bounded by the TARGET dimensions — a resize-to-thumbnail
    * stage must shrink shuffle/write volume even for rows it cannot decode.
    * Decodable images take [[resizeImage]]'s real path instead. */
  def stubResize(row: MediaRow, width: Int, height: Int): ResizedMedia = {
    val target = math.max(1, width * height / 8)
    ResizedMedia(row.doc_id, row.format, width, height,
      java.util.Arrays.copyOf(row.payload, math.min(target, math.max(1, row.payload.length))))
  }

  /** REAL resize on the bundled JDK only: ImageIO decode -> Graphics2D
    * bilinear resample to (width, height) RGB — the same interpolation
    * kernel [[aHash]] uses for its 8x8 grayscale grid, generalized to
    * arbitrary RGB target dimensions — -> lossless PNG re-encode
    * (javax.imageio ships a PNG writer), so output bytes are deterministic
    * for a given input. A payload ImageIO cannot parse falls back to
    * [[stubResize]] so the stage stays total; either way the output row is
    * bounded by the target dimensions, which is the property that matters
    * at scale. */
  def resizeImage(row: MediaRow, width: Int, height: Int): ResizedMedia = {
    require(width > 0 && height > 0, "target dimensions must be positive")
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(row.payload))
      catch { case _: Exception => null }
    if (img == null) stubResize(row, width, height)
    else {
      val out = new java.awt.image.BufferedImage(width, height,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = out.createGraphics()
      g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
        java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g.drawImage(img, 0, 0, width, height, null)
      g.dispose()
      val buf = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(out, "png", buf)
      ResizedMedia(row.doc_id, "png", width, height, buf.toByteArray)
    }
  }

  case class PHashRow(doc_id: Long, format: String, ok: Boolean, phash: Long)

  /** Average-hash (aHash) perceptual fingerprint on the bundled JDK only:
    * ImageIO decode -> 8x8 grayscale downscale (Graphics2D bilinear) ->
    * threshold each cell against the mean luminance -> 64-bit hash. Images
    * within small edits (recompression, light noise, small local changes)
    * land within a few bits of each other; hamming distance <= t is the
    * standard near-dup test for image dedup in a multimodal corpus. A
    * non-decodable payload reports ok=false, phash=0 (and is excluded from
    * pair search). Bit order: bit (8*y + x), row-major; a cell sets its bit
    * iff its luminance is STRICTLY above the mean (deterministic on ties —
    * a uniform image hashes to 0). */
  def aHash(row: MediaRow): PHashRow = {
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(row.payload))
      catch { case _: Exception => null }
    if (img == null) PHashRow(row.doc_id, row.format, ok = false, 0L)
    else {
      val small = new java.awt.image.BufferedImage(8, 8,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      val g = small.createGraphics()
      g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
        java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g.drawImage(img, 0, 0, 8, 8, null)
      g.dispose()
      val raster = small.getRaster
      val px = Array.tabulate(64)(i => raster.getSample(i % 8, i / 8, 0))
      val mean = px.sum / 64.0
      var h = 0L
      var i = 0
      while (i < 64) { if (px(i) > mean) h |= (1L << i); i += 1 }
      PHashRow(row.doc_id, row.format, ok = true, h)
    }
  }

  /** Distributed perceptual hashing (decoder init once per partition). */
  def perceptualHashes(spark: SparkSession, media: DataFrame): Dataset[PHashRow] = {
    import spark.implicits._
    media.as[MediaRow].mapPartitions(_.map(aHash))
  }

  /** Near-duplicate image pairs over `(doc_id, phash)` rows:
    * hamming(phash_a, phash_b) <= maxBits. The rows are the decodable
    * images of [[perceptualHashes]] (`ok`), or a precomputed hash table:
    * the DuckDB oracle for `m2_phash_pairs` feeds both engines the same
    * synthetic table, so the band math, including the remainder-band
    * edge, is hash-compared with no decoder in the loop.
    *
    * Scale shape — multi-index pigeonhole banding, NEVER all-pairs: the
    * 64-bit hash splits into maxBits+1 disjoint bands, and any pair within
    * maxBits differing bits must agree EXACTLY on at least one band
    * (pigeonhole), so candidates come from an equi-join on (band index,
    * band value) — the same bucketed-join discipline as MinHash-LSH
    * (Dedup.lshCandidatePairs) — and only candidates pay the bit_count
    * verification. Hot buckets (e.g. the all-zero hash of uniform images)
    * are capped like LSH buckets to bound the worst-case pair blowup. */
  def phashNearDupPairs(hashed: DataFrame,
                        maxBits: Int = 3,
                        maxPerBucket: Int = 128): DataFrame = {
    require(maxBits >= 0 && maxBits <= 15, "maxBits must be in [0, 15]")
    val nBands = maxBits + 1
    val bandBits = 64 / nBands
    val mask = (1L << bandBits) - 1
    // the LAST band absorbs the remainder bits when nBands does not divide
    // 64 — every hash bit must belong to some band or the pigeonhole
    // guarantee silently breaks for pairs differing only in uncovered bits
    val bands = hashed.select(col("doc_id"), col("phash"), explode(array(
      (0 until nBands).map { b =>
        val v = if (b == nBands - 1) expr(s"shiftright(phash, ${b * bandBits})")
                else expr(s"shiftright(phash, ${b * bandBits}) & ${mask}L")
        struct(lit(b).as("band"), v.as("value"))
      }: _*)).as("bv"))
      .select(col("doc_id"), col("phash"),
        col("bv.band").as("band"), col("bv.value").as("value"))
    val capped = Dedup.capPerKey(bands, Seq("band", "value"), "doc_id",
      maxPerBucket)
    capped.as("a").join(capped.as("b"),
        col("a.band") === col("b.band") && col("a.value") === col("b.value") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        expr("bit_count(a.phash ^ b.phash)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxBits)
  }

  /** Deterministic synthetic phash fixture over a `doc_id` column, rendered
    * in EITHER engine's SQL dialect from the one formula (OracleSql reuses
    * this builder, so the two sides cannot drift). Structure, not noise —
    * the fixture must actually produce near-dup pairs and hot buckets:
    * groups of 10 consecutive doc_ids share a 56-bit base hash (7
    * pseudo-random bytes of `doc_id div 10`); member r of a group XOR-flips
    * min(r, 4) pseudo-random bit positions of the base, so within-group
    * hamming distances span 0..8 and straddle any maxBits in that range;
    * every 23rd doc gets one shared constant hash — a hot all-equal bucket
    * that exceeds small per-bucket caps and exercises the cap path.
    * 56 bits keeps every intermediate nonnegative and overflow-free in both
    * engines while still crossing the remainder band when maxBits+1 does
    * not divide 64.
    *
    * @param intDiv     integer-division operator ("div" Spark, "//" DuckDB)
    * @param xor        bitwise-xor renderer (infix `^` Spark, `xor()` DuckDB)
    * @param shiftLeft1 renders `1::BIGINT << pos` for a position expression
    */
  def syntheticPhashSql(intDiv: String, xor: (String, String) => String,
                        shiftLeft1: String => String): String = {
    // every group term reduces mod its modulus BEFORE the large-constant
    // multiply (the g2/g4 residue lesson): (g % m) * c ≡ g * c (mod m)
    // for non-negative g, and the reduced operand keeps the product under
    // 2^63 at ANY doc_id — the unreduced form silently wraps in Spark and
    // raises in DuckDB once doc_id passes ~9e13
    val g = s"(doc_id $intDiv 10)"
    val r = "(doc_id % 10)"
    val base = (0 to 6).map { k =>
      s"(((($g % 251) * ${1000003 + 4241 * k} + ${77 + k}) % 251) * ${1L << (8 * k)})"
    }.mkString("(", " + ", ")")
    val noisy = (0 to 3).foldLeft(base) { (acc, j) =>
      val pos = s"CAST(((($g % 56) * 13 + $r * 17 + ${j * 29}) % 56) AS INTEGER)"
      val term = s"(CASE WHEN least($r, 4) > $j THEN ${shiftLeft1(pos)} " +
        "ELSE CAST(0 AS BIGINT) END)"
      xor(acc, term)
    }
    s"(CASE WHEN doc_id % 23 = 0 THEN CAST(1234567 AS BIGINT) ELSE $noisy END)"
  }

  /** documents.text re-cast as an opaque AUDIO payload column — the m5
    * sibling of [[asMediaTable]] with container-format tags. */
  def asAudioTable(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      col("text").cast("binary").as("payload"),
      element_at(array(lit("wav"), lit("flac"), lit("ogg")),
        (col("doc_id") % 3 + 1).cast("int")).as("format"))

  /** WAV-header-style audio metadata parse over an opaque binary payload
    * — the audio analog of [[decodeMeta]]'s image dimensions, and the
    * header-parse stage an audio curation pipeline runs before any
    * resample/transcribe stage. The 4-byte "header" layout is synthetic
    * (byte 0 selects the sample rate from the five standard rates, byte 1
    * the channel count, byte 2 the sample width; the remaining bytes are
    * "sample data"), but the derived fields are the real WAV arithmetic:
    * n_samples = data_bytes·8 / (bits·channels), duration = samples/rate
    * — exact integer division end to end, so the report hashes
    * identically cross-engine. A payload under 4 bytes (or NULL) reports
    * ok = false with NULL fields — the total-stage discipline of
    * [[resizeImage]].
    *
    * Like [[frameDigests]], the parse is DECLARATIVE and codegen'd — byte
    * access rides the payload's hex rendering (byte i = hex chars
    * 2i+1..2i+2, parsed base-16), the route that keeps the identical
    * arithmetic expressible in engines without blob indexing. A real
    * container demuxer replaces only the header layout; the bounded
    * row-wise shape (no shuffle, no UDF) is the part that matters at
    * 100 TB. */
  def audioMeta(media: DataFrame): DataFrame = {
    def byteAt(i: Int) =
      conv(substring(col("__h"), i * 2 + 1, 2), 16, 10).cast("int")
    media
      .select(col("doc_id"), col("format"),
        octet_length(col("payload")).as("byte_len"),
        hex(col("payload")).as("__h"))
      .withColumn("ok", col("byte_len") >= 4)
      .withColumn("sample_rate", when(col("ok"),
        element_at(array(lit(8000), lit(16000), lit(22050), lit(44100),
          lit(48000)), byteAt(0) % 5 + 1)))
      .withColumn("channels", when(col("ok"), byteAt(1) % 2 + 1))
      .withColumn("bits_per_sample", when(col("ok"), (byteAt(2) % 2 + 1) * 8))
      .withColumn("n_samples", when(col("ok"),
        expr("((byte_len - 4) * 8) div (bits_per_sample * channels)")))
      .withColumn("duration_ms", when(col("ok"),
        expr("(n_samples * 1000) div sample_rate")))
      .select("doc_id", "format", "byte_len", "sample_rate", "channels",
        "bits_per_sample", "n_samples", "duration_ms", "ok")
  }

  case class Frame(doc_id: Long, frame_idx: Int, frame: Array[Byte])

  /** Frame sampling: treat the payload as a sequence of fixed-size frame
    * chunks and keep every `stride`-th one — the Spark shape of video
    * frame-sampling (one input row explodes into a bounded number of frame
    * rows; the stride is the knob that keeps the exploded volume linear).
    * A real demuxer replaces the `grouped` chunking only. */
  def sampleFrames(spark: SparkSession, media: DataFrame,
                   frameBytes: Int = 16, stride: Int = 2): Dataset[Frame] = {
    import spark.implicits._
    media.as[MediaRow].flatMap { r =>
      r.payload.grouped(frameBytes).zipWithIndex.collect {
        case (chunk, i) if i % stride == 0 => Frame(r.doc_id, i, chunk)
      }
    }
  }

  /** Declarative, whole-stage-codegen twin of [[sampleFrames]] that emits
    * per-frame DIGESTS instead of raw frame bytes — the shape a dedup or
    * integrity pass over sampled frames actually consumes (a byte payload
    * would just ride along; the digest is the join key). Byte slicing runs
    * over the payload's hex rendering (frame of k bytes = 2k hex chars) so
    * the identical arithmetic is expressible in engines without blob
    * slicing; `hex` is uppercase in both Spark and DuckDB, and the frame
    * digest is md5 of that ASCII hex slice — byte-faithful regardless of
    * the payload's UTF-8 validity. Everything here (hex, sequence,
    * explode, substring, md5) is codegen'd — no UDF, no mapPartitions.
    * ExtSpec proves (doc_id, frame_idx, frame_len, digest)
    * equality against [[sampleFrames]]'s imperative chunking. */
  def frameDigests(media: DataFrame, frameBytes: Int = 16,
                   stride: Int = 2): DataFrame = {
    val w = 2 * frameBytes
    media
      .select(col("doc_id"), hex(col("payload")).as("__h"))
      .withColumn("__nf",
        ceil(length(col("__h")) / lit(w.toDouble)).cast("int"))
      .select(col("doc_id"), col("__h"), explode(expr(
        "CASE WHEN __nf > 0 THEN sequence(0, __nf - 1) " +
          "ELSE CAST(array() AS ARRAY<INT>) END")).as("frame_idx"))
      .filter(col("frame_idx") % stride === 0)
      .withColumn("__fh",
        expr(s"substring(__h, frame_idx * $w + 1, $w)"))
      .select(col("doc_id"), col("frame_idx"),
        (length(col("__fh")) / 2).cast("int").as("frame_len"),
        md5(col("__fh")).as("frame_md5"))
  }
}
