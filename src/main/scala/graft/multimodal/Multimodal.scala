package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column support (SURVEY.md §2.H): opaque binary payloads
  * (image/audio/video bytes) carried as `BinaryType` columns with a
  * typed metadata struct, plus REAL pure-JVM decoders for the two
  * codec-free container formats — WAV PCM (RIFF little-endian header
  * fields, 16-bit samples, RMS energy) and PNG (IHDR big-endian
  * dimensions/depth plus CRC-32 integrity check via Spark's native
  * `crc32`). Both decoders are native Column expressions — byte slicing
  * + hex/conv arithmetic — so the decode runs distributed inside
  * whole-stage codegen, never as a UDF and never on the driver.
  *
  * Compressed codecs (JPEG/H.264/FLAC...) are NOT available in this
  * environment; for those the same plumbing applies with the decode
  * swapped for a per-partition native-library call.
  *
  * Scale notes: payloads dominate row size, so feature extraction must
  * (a) run as a narrow map (no shuffle of payload bytes), (b) prune the
  * payload column as soon as features are extracted, and (c) bound
  * partition bytes via `spark.sql.files.maxPartitionBytes` rather than
  * row counts.
  */
object Multimodal {

  /** Metadata struct carried next to every payload column. */
  val metadataSchema: StructType = StructType(Seq(
    StructField("media_type", StringType),   // "image" | "audio" | "video"
    StructField("encoding", StringType),     // e.g. "jpeg", "wav"
    StructField("n_bytes", LongType),
    StructField("checksum", StringType)))    // sha2-256 hex

  /** Attach a payload (binary) + metadata struct derived from a source
    * column. In a real pipeline the payload comes off object storage;
    * here any column is castable for testing.
    */
  def withPayload(df: DataFrame, src: Column, mediaType: String, encoding: String): DataFrame =
    df.withColumn("payload", src.cast(BinaryType))
      .withColumn("media_meta", struct(
        lit(mediaType).as("media_type"),
        lit(encoding).as("encoding"),
        length(col("payload")).cast(LongType).as("n_bytes"),
        sha2(col("payload"), 256).as("checksum")))

  // ---- WAV PCM decode (canonical 44-byte RIFF header + 16-bit data) ----

  /** n-byte little-endian unsigned int at 1-based byte offset `off`. */
  private def leUInt(payload: Column, off: Int, n: Int): Column =
    conv(concat((0 until n).reverse.map(i => hex(substring(payload, off + i, 1))): _*),
      16, 10).cast(LongType)

  /** n-byte big-endian unsigned int at 1-based byte offset `off`. */
  private def beUInt(payload: Column, off: Int, n: Int): Column =
    conv(hex(substring(payload, off, n)), 16, 10).cast(LongType)

  /** Decode a canonical mono/stereo PCM WAV: validates the RIFF/WAVE/
    * fmt/data magic, reads the little-endian header fields, and computes
    * the exact sum of squared 16-bit samples (integer arithmetic — bit-
    * reproducible cross-engine) plus RMS. Columns are plain expressions:
    * the byte math compiles into whole-stage codegen.
    *
    * Canonical layout (1-based offsets): RIFF@1, size@5, WAVE@9,
    * "fmt "@13, fmt_size@17 (=16), audio_format@21 (=1 PCM),
    * n_channels@23, sample_rate@25, byte_rate@29, block_align@33,
    * bits_per_sample@35, "data"@37, data_size@41, samples@45.
    */
  def wavPcm(df: DataFrame, payload: Column): DataFrame = {
    val okMagic = substring(payload, 1, 4) === lit("RIFF".getBytes) &&
      substring(payload, 9, 4) === lit("WAVE".getBytes) &&
      substring(payload, 13, 4) === lit("fmt ".getBytes) &&
      substring(payload, 37, 4) === lit("data".getBytes)
    df.withColumn("__wav_ok", okMagic)
      .withColumn("sample_rate", leUInt(payload, 25, 4).cast(IntegerType))
      .withColumn("n_channels", leUInt(payload, 23, 2).cast(IntegerType))
      .withColumn("bits_per_sample", leUInt(payload, 35, 2).cast(IntegerType))
      .withColumn("n_samples",
        (leUInt(payload, 41, 4) / (col("n_channels") * (col("bits_per_sample") / 8)))
          .cast(IntegerType))
      // sum of squared samples as a NATIVE codegen'd expression looping
      // over the raw bytes (graft.multimodal.WavSumSqExpr). The previous
      // form — transform(sequence(...)) + aggregate with per-sample
      // hex/conv string parsing — was an array-HOF pipeline: HOFs are
      // CodegenFallback (interpreted), and the per-sample lambda
      // allocated hex strings; measured 5.1 s vs 0.5 s at sf0.1 for the
      // identical integer results (the d05 lesson, applied to bytes)
      .withColumn("__payload_wav", payload)
      .withColumn("sum_sq", {
        MediaFunctions.register(df.sparkSession)
        expr("wav_sum_sq(__payload_wav)")
      })
      .withColumn("rms", sqrt(col("sum_sq").cast(DoubleType) / col("n_samples")))
      .withColumn("duration_ms",
        col("n_samples") * lit(1000.0) / col("sample_rate"))
      .drop("__payload_wav")
  }

  // ---- PNG IHDR decode + CRC-32 integrity check ----

  /** Decode the PNG signature + IHDR chunk: big-endian width/height,
    * bit depth, color type, and `ihdr_crc_ok` — Spark's native `crc32`
    * over the chunk type+data (bytes 13..29) compared to the stored CRC
    * (PNG uses the standard CRC-32 polynomial). Also surfaces the
    * following chunk's length/type (IDAT in a minimal file).
    */
  def pngIhdr(df: DataFrame, payload: Column): DataFrame = {
    val sig = Seq(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
      .map(_.toByte).toArray
    df.withColumn("__png_ok",
        substring(payload, 1, 8) === lit(sig) &&
          substring(payload, 13, 4) === lit("IHDR".getBytes))
      .withColumn("width", beUInt(payload, 17, 4).cast(IntegerType))
      .withColumn("height", beUInt(payload, 21, 4).cast(IntegerType))
      .withColumn("bit_depth", beUInt(payload, 25, 1).cast(IntegerType))
      .withColumn("color_type", beUInt(payload, 26, 1).cast(IntegerType))
      .withColumn("ihdr_crc_ok", crc32(substring(payload, 13, 17)) === beUInt(payload, 30, 4))
      .withColumn("next_chunk_len", beUInt(payload, 34, 4).cast(IntegerType))
      .withColumn("next_chunk_type", substring(payload, 38, 4).cast(StringType))
  }

  // ---- deterministic fixture encoders (test/oracle scaffolding) ----
  // The corpus has no real media, so fixtures are ENCODED here from a
  // closed-form recipe (doc_id → samples/pixels) that the DuckDB oracle
  // replays arithmetically; the decoders above then parse the real bytes.

  /** Mono 16-bit 8 kHz WAV: n = 100 + id%50 samples,
    * sample_i = ((id*31 + i*7) % 65536) - 32768.
    */
  def wavFixture(id: Long): Array[Byte] = {
    val n = (100 + id % 50).toInt
    val data = java.nio.ByteBuffer.allocate(n * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    (0 until n).foreach(i => data.putShort(((id * 31 + i * 7) % 65536 - 32768).toShort))
    val b = java.nio.ByteBuffer.allocate(44 + n * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes).putInt(36 + n * 2).put("WAVE".getBytes)
    b.put("fmt ".getBytes).putInt(16).putShort(1).putShort(1) // PCM, mono
    b.putInt(8000).putInt(8000 * 2).putShort(2).putShort(16)
    b.put("data".getBytes).putInt(n * 2).put(data.array())
    b.array()
  }

  /** Minimal real PNG: (1+id%16) × (1+(id*7)%12) RGB-8, one filter-0
    * scanline per row, IDAT as a raw zlib stored block (deterministic
    * length = height*(1+width*3) + 11), all CRCs real. Every 10th id's
    * stored IHDR CRC gets its last byte flipped AFTER computation — a
    * corrupt-file fixture the integrity check must flag.
    */
  def pngFixture(id: Long): Array[Byte] = {
    val w = (1 + id % 16).toInt
    val h = (1 + (id * 7) % 12).toInt
    val raw = Array.tabulate(h * (1 + w * 3)) { k =>
      if (k % (1 + w * 3) == 0) 0.toByte else ((id + k) % 251).toByte
    }
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val crc = new java.util.zip.CRC32
      crc.update(typ.getBytes); crc.update(data)
      java.nio.ByteBuffer.allocate(12 + data.length)
        .putInt(data.length).put(typ.getBytes).put(data)
        .putInt(crc.getValue.toInt).array()
    }
    val ihdr = java.nio.ByteBuffer.allocate(13)
      .putInt(w).putInt(h).put(8.toByte).put(2.toByte) // depth 8, RGB
      .put(0.toByte).put(0.toByte).put(0.toByte).array()
    // zlib stream by hand: header + one stored block + adler32 —
    // deterministic bytes, unlike Deflater's block-splitting heuristics
    val adler = new java.util.zip.Adler32; adler.update(raw)
    val idat = java.nio.ByteBuffer.allocate(2 + 5 + raw.length + 4)
      .put(0x78.toByte).put(0x01.toByte).put(0x01.toByte)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putShort(raw.length.toShort).putShort((~raw.length).toShort)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
      .put(raw).putInt(adler.getValue.toInt).array()
    val sig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
    val png = sig ++ chunk("IHDR", ihdr) ++ chunk("IDAT", idat) ++
      chunk("IEND", Array.empty[Byte])
    if (id % 10 == 0) png(32) = (png(32) ^ 0x01).toByte // corrupt IHDR CRC
    png
  }

  /** Minimal real baseline JPEG header stream: SOI → APP0/JFIF → a
    * deterministic DQT stub → SOF0 at (1+id%200) × (1+(id*13)%150),
    * precision 8, 3 components → SOS → 8 entropy bytes → EOI. The
    * segment chain is real (every marker/length parses), so the SOF
    * decoder must genuinely WALK variable-length segments to find the
    * frame header — the property a real camera JPEG (APPn/EXIF soup
    * before SOF) exercises. Every 10th id's SOF marker prefix byte is
    * zeroed — a corrupt-marker fixture the walker must reject loudly
    * (null), never misparse.
    */
  def jpegFixture(id: Long): Array[Byte] = {
    val w = (1 + id % 200).toInt
    val h = (1 + (id * 13) % 150).toInt
    val bb = java.nio.ByteBuffer.allocate(132)
    def m(x: Int): Unit = { bb.put(0xFF.toByte); bb.put(x.toByte) }
    m(0xD8) // SOI
    m(0xE0) // APP0, len 16: JFIF 1.1, unit 0, density 1x1, no thumb
    bb.putShort(16.toShort).put("JFIF".getBytes).put(0.toByte)
      .put(1.toByte).put(1.toByte).put(0.toByte)
      .putShort(1.toShort).putShort(1.toShort).put(0.toByte).put(0.toByte)
    m(0xDB) // DQT, len 67: pq/tq byte + 64 deterministic table bytes
    bb.putShort(67.toShort).put(0.toByte)
    (0 until 64).foreach(k => bb.put((((id + k) % 99) + 1).toByte))
    m(0xC0) // SOF0, len 17: precision 8, h, w, 3 components
    bb.putShort(17.toShort).put(8.toByte)
      .putShort(h.toShort).putShort(w.toShort).put(3.toByte)
      .put(1.toByte).put(0x22.toByte).put(0.toByte)  // Y  2x2, table 0
      .put(2.toByte).put(0x11.toByte).put(1.toByte)  // Cb 1x1, table 1
      .put(3.toByte).put(0x11.toByte).put(1.toByte)  // Cr 1x1, table 1
    m(0xDA) // SOS, len 12: 3 components + spectral selection
    bb.putShort(12.toShort).put(3.toByte)
      .put(1.toByte).put(0x00.toByte).put(2.toByte).put(0x11.toByte)
      .put(3.toByte).put(0x11.toByte)
      .put(0.toByte).put(0x3F.toByte).put(0.toByte)
    (0 until 8).foreach(k => bb.put(((id + k) % 251).toByte)) // entropy stub
    m(0xD9) // EOI
    val out = bb.array()
    if (id % 10 == 0) out(89) = 0 // corrupt the SOF marker's 0xFF prefix
    out
  }

  /** Minimal real ISO-BMFF (MP4) stream: ftyp('isom') → a `free` box
    * the walker must skip → moov{ udta stub (unknown child, must skip)
    * → mvhd v0 (timescale, duration) → trak{ tkhd v0 (track id, 16.16
    * fixed-point dims) } } → mdat stub. The box chain is real (every
    * size/type parses and nests), so the kernel must genuinely walk
    * variable-size nested boxes — the property a camera/phone MP4
    * (free/udta/meta soup around moov) exercises. Every 10th id's mvhd
    * SIZE field is inflated past its parent — a corrupt-container
    * fixture the walker must reject loudly (null), never misparse.
    */
  def mp4Fixture(id: Long): Array[Byte] = {
    val timescale = (1000 + (id % 9) * 100).toInt
    val duration = (1000 + (id * 37) % 100000).toInt
    val trackId = (1 + id % 5).toInt
    val w = (16 + id % 320).toInt
    val h = (16 + (id * 7) % 240).toInt
    val bb = java.nio.ByteBuffer.allocate(288) // big-endian by default
    def box(size: Int, typ: String): Unit = {
      bb.putInt(size); bb.put(typ.getBytes("US-ASCII"))
    }
    box(24, "ftyp") // 16-byte payload: brand, minor, two compat brands
    bb.put("isom".getBytes); bb.putInt(512)
    bb.put("isom".getBytes); bb.put("mp41".getBytes)
    box(16, "free")
    (0 until 8).foreach(k => bb.put(((id + k) % 251).toByte))
    box(232, "moov")
    box(16, "udta")
    (0 until 8).foreach(k => bb.put(((id + 3 * k) % 251).toByte))
    box(108, "mvhd")
    bb.putInt(0) // version 0, flags 0
    bb.putInt((id % 1000).toInt) // creation
    bb.putInt(0) // modification
    bb.putInt(timescale)
    bb.putInt(duration)
    bb.putInt(0x00010000); bb.putShort(0x0100.toShort) // rate 1.0, volume 1.0
    (0 until 10).foreach(_ => bb.put(0.toByte)) // reserved
    Seq(0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000)
      .foreach(bb.putInt) // unity matrix
    (0 until 24).foreach(_ => bb.put(0.toByte)) // pre_defined
    bb.putInt(2) // next_track_ID
    box(100, "trak")
    box(92, "tkhd")
    bb.putInt(7) // version 0, flags: enabled|in-movie|in-preview
    bb.putInt(0); bb.putInt(0) // creation, modification
    bb.putInt(trackId)
    bb.putInt(0) // reserved
    bb.putInt(duration)
    (0 until 8).foreach(_ => bb.put(0.toByte)) // reserved
    bb.putShort(0.toShort); bb.putShort(0.toShort) // layer, alternate_group
    bb.putShort(0.toShort); bb.putShort(0.toShort) // volume, reserved
    Seq(0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000)
      .foreach(bb.putInt)
    bb.putInt(w << 16); bb.putInt(h << 16) // 16.16 fixed-point dims
    box(16, "mdat")
    (0 until 8).foreach(k => bb.put(((id + 7 * k) % 251).toByte))
    val out = bb.array()
    if (id % 10 == 0) {
      // inflate mvhd's size past its moov parent (offset 64 = ftyp 24 +
      // free 16 + moov header 8 + udta 16): a walker that trusts child
      // sizes would read the trak from beyond the buffer
      out(64) = 0; out(65) = 0xFF.toByte; out(66) = 0xFF.toByte; out(67) = 0xFF.toByte
    }
    out
  }
}

/** Shared sample math for the WAV decoder — one implementation serving
  * both the interpreted eval and the generated code (the
  * `FiscalMath` pattern, `catalyst/FiscalExpressions.scala`).
  */
object WavMath {
  /** Exact integer sum of squared 16-bit little-endian samples of a
    * canonical-layout PCM WAV (header fields at the offsets documented
    * on [[Multimodal.wavPcm]]): n_samples = data_size /
    * (n_channels · bytes_per_sample), samples from byte offset 44.
    * A straight byte loop — no strings, no per-sample allocation.
    */
  def sumSq(b: Array[Byte]): Long = {
    if (b == null || b.length < 44) return 0L
    def le(off: Int, n: Int): Long = {
      var v = 0L; var i = n - 1
      while (i >= 0) { v = (v << 8) | (b(off + i) & 0xFF); i -= 1 }
      v
    }
    // same canonical-layout guard as frameStats: anything but mono
    // 16-bit would sum channel-interleaved or mis-sliced values — the
    // kernel's malformed-payload convention is 0, never a wrong energy
    if (le(22, 2) != 1L || le(34, 2) != 16L) return 0L
    val nSamples = (le(40, 4) / 2L).toInt
    var acc = 0L
    var i = 0
    while (i < nSamples && 45 + 2 * i < b.length) {
      val s = (((b(45 + 2 * i) & 0xFF) << 8) | (b(44 + 2 * i) & 0xFF)).toShort
      acc += s.toLong * s.toLong
      i += 1
    }
    acc
  }

  private val frameStruct = StructType(Seq(
    StructField("frame", IntegerType, nullable = false),
    StructField("fr_n", IntegerType, nullable = false),
    StructField("fr_sum_sq", LongType, nullable = false),
    StructField("fr_peak", IntegerType, nullable = false)))

  /** Result element type of [[frameStats]] (array of per-frame rows). */
  val frameStatsType: DataType =
    org.apache.spark.sql.types.ArrayType(frameStruct, containsNull = false)

  /** Per-frame statistics of a canonical PCM WAV: the samples are cut
    * into fixed `frameLen`-sample frames (last frame short) and each
    * frame reports its size, exact integer energy (sum of squares), and
    * peak |sample|. ONE pass over the raw bytes per row, one array
    * allocation per row — the frame-sample primitive for windowed audio
    * features (VAD energy gates, per-frame loudness), all integer
    * arithmetic so it replays bit-for-bit on any engine.
    */
  def frameStats(b: Array[Byte], frameLen: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    if (b == null || b.length < 44 || frameLen <= 0) return new GenericArrayData(Array.empty[Any])
    def le(off: Int, n: Int): Long = {
      var v = 0L; var i = n - 1
      while (i >= 0) { v = (v << 8) | (b(off + i) & 0xFF); i -= 1 }
      v
    }
    // only canonical mono 16-bit PCM decodes below; anything else would
    // silently interleave channels or slice garbage sample widths —
    // reject like the other malformed-payload guards (empty array)
    if (le(22, 2) != 1L || le(34, 2) != 16L) return new GenericArrayData(Array.empty[Any])
    val nSamples = math.min((le(40, 4) / 2L).toInt, (b.length - 44) / 2)
    val nFrames = (nSamples + frameLen - 1) / frameLen
    val rows = new Array[Any](nFrames)
    var f = 0
    while (f < nFrames) {
      val from = f * frameLen
      val until = math.min(nSamples, from + frameLen)
      var acc = 0L
      var peak = 0
      var i = from
      while (i < until) {
        val s = (((b(45 + 2 * i) & 0xFF) << 8) | (b(44 + 2 * i) & 0xFF)).toShort
        acc += s.toLong * s.toLong
        val a = math.abs(s.toInt)
        if (a > peak) peak = a
        i += 1
      }
      rows(f) = InternalRow(f, until - from, acc, peak)
      f += 1
    }
    new GenericArrayData(rows)
  }
}

/** `wav_sum_sq(binary) -> bigint` — the WAV sample-energy kernel as a
  * native codegen'd expression: the generated code calls
  * [[WavMath.sumSq]] directly, so the per-sample loop runs as plain JVM
  * byte arithmetic inside whole-stage codegen instead of an interpreted
  * array-HOF pipeline.
  */
case class WavSumSqExpr(child: org.apache.spark.sql.catalyst.expressions.Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires BINARY input, got ${child.dataType.catalogString}")
  override def dataType: DataType = LongType
  override protected def nullSafeEval(input: Any): Any =
    WavMath.sumSq(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.multimodal.WavMath.sumSq($c)")
  override protected def withNewChildInternal(
      newChild: org.apache.spark.sql.catalyst.expressions.Expression): WavSumSqExpr =
    copy(child = newChild)
  override def prettyName: String = "wav_sum_sq"
}

/** Shared pixel math for the PNG resize kernel — one implementation for
  * the interpreted eval and the generated code (the `WavMath` pattern).
  */
object PngMath {
  private val resizeStruct = StructType(Seq(
    StructField("rw", IntegerType, nullable = false),
    StructField("rh", IntegerType, nullable = false),
    StructField("n_px", IntegerType, nullable = false),
    StructField("sum_intensity", LongType, nullable = false)))

  val resizeStatsType: DataType = resizeStruct

  /** Nearest-neighbor downsample of the minimal stored-block PNG this
    * engine's fixtures encode (RGB-8, filter-0 scanlines, one
    * uncompressed zlib stored block): sample every `factor`-th pixel in
    * both axes and report the resized dims, sampled-pixel count, and
    * the exact integer sum of all sampled channel bytes — the resize +
    * intensity-stat step of an image pipeline, as one pass over the raw
    * bytes. Raw scanlines start at byte 48 (sig 8 + IHDR chunk 25 +
    * IDAT len/type 8 + zlib hdr 2 + stored-block hdr 5); row r's filter
    * byte sits at 48 + r·(1+3w).
    *
    * For general deflate-compressed PNGs the same plumbing applies with
    * an Inflater call in place of the direct slice — the stored block
    * keeps the kernel allocation-free and codegen-friendly here.
    */
  def resizeStats(b: Array[Byte], factor: Int): Any = {
    import org.apache.spark.sql.catalyst.InternalRow
    if (b == null || b.length < 48 || factor <= 0) return null
    def be(off: Int): Int =
      ((b(off) & 0xFF) << 24) | ((b(off + 1) & 0xFF) << 16) |
        ((b(off + 2) & 0xFF) << 8) | (b(off + 3) & 0xFF)
    val w = be(16); val h = be(20)
    // w/h are UNTRUSTED bytes read as signed 32-bit: negative or huge
    // values must reject, and the size check must run in Long — with
    // Int arithmetic a hostile h × rowBytes overflows negative, slips
    // past the guard, and the scanline loop reads out of bounds inside
    // whole-stage codegen (found by the PropertySpec fuzz)
    if (w <= 0 || h <= 0 || w > (1 << 24) || h > (1 << 24)) return null
    val rowBytes = 1 + 3 * w
    if (b.length.toLong < 48L + h.toLong * rowBytes) return null
    val rw = (w + factor - 1) / factor
    val rh = (h + factor - 1) / factor
    var sum = 0L
    var r = 0
    while (r < h) {
      val rowOff = 48 + r * rowBytes
      var c = 0
      while (c < w) {
        val px = rowOff + 1 + 3 * c
        sum += (b(px) & 0xFF) + (b(px + 1) & 0xFF) + (b(px + 2) & 0xFF)
        c += factor
      }
      r += factor
    }
    InternalRow(rw, rh, rw * rh, sum)
  }
}

/** `png_resize_stats(binary, factor) -> struct<rw, rh, n_px,
  * sum_intensity>` — the nearest-neighbor downsample kernel as a native
  * codegen'd expression ([[PngMath.resizeStats]]).
  */
case class PngResizeStatsExpr(
    left: org.apache.spark.sql.catalyst.expressions.Expression,
    right: org.apache.spark.sql.catalyst.expressions.Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != BinaryType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires BINARY payload, got ${left.dataType.catalogString}")
    else if (right.dataType != IntegerType || !right.foldable)
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires a literal INT factor")
    else TypeCheckResult.TypeCheckSuccess
  override def dataType: DataType = PngMath.resizeStatsType
  // the kernel returns null for garbage payloads even when inputs are
  // non-null, so the expression must declare nullability
  override def nullable: Boolean = true
  override protected def nullSafeEval(payload: Any, factor: Any): Any =
    PngMath.resizeStats(payload.asInstanceOf[Array[Byte]], factor.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ecode = nullSafeCodeGen(ctx, ev, (p, f) => {
      s"""
         Object r = graft.multimodal.PngMath.resizeStats($p, $f);
         if (r == null) { ${ev.isNull} = true; }
         else { ${ev.value} = (org.apache.spark.sql.catalyst.InternalRow) r; }
       """
    })
    ecode
  }
  override protected def withNewChildrenInternal(
      newLeft: org.apache.spark.sql.catalyst.expressions.Expression,
      newRight: org.apache.spark.sql.catalyst.expressions.Expression): PngResizeStatsExpr =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "png_resize_stats"
}

/** `wav_frame_stats(binary, frame_len) -> array<struct<frame, fr_n,
  * fr_sum_sq, fr_peak>>` — fixed-length frame extraction over WAV
  * samples as one native codegen'd pass ([[WavMath.frameStats]]): one
  * array allocation per row, no per-frame re-scan, no HOF pipeline.
  * `frame_len` must be a foldable positive integer (it shapes the
  * result, so a per-row value would make the schema data-dependent).
  */
case class WavFrameStatsExpr(
    left: org.apache.spark.sql.catalyst.expressions.Expression,
    right: org.apache.spark.sql.catalyst.expressions.Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != BinaryType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires BINARY payload, got ${left.dataType.catalogString}")
    else if (right.dataType != IntegerType || !right.foldable)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a literal INT frame length")
    else TypeCheckResult.TypeCheckSuccess
  override def dataType: DataType = WavMath.frameStatsType
  override protected def nullSafeEval(payload: Any, frameLen: Any): Any =
    WavMath.frameStats(payload.asInstanceOf[Array[Byte]], frameLen.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (p, fl) => s"graft.multimodal.WavMath.frameStats($p, $fl)")
  override protected def withNewChildrenInternal(
      newLeft: org.apache.spark.sql.catalyst.expressions.Expression,
      newRight: org.apache.spark.sql.catalyst.expressions.Expression): WavFrameStatsExpr =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "wav_frame_stats"
}

/** Shared segment-walk math for the JPEG frame-header decoder — one
  * implementation serving both the interpreted eval and the generated
  * code (the `WavMath`/`PngMath` pattern).
  */
object JpegMath {
  private val sofStruct = StructType(Seq(
    StructField("sof_marker", IntegerType, nullable = false),
    StructField("sof_precision", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("n_components", IntegerType, nullable = false)))

  /** Result type of [[sof]]. */
  val sofType: DataType = sofStruct

  /** Decode the first SOF frame header of a JPEG stream by walking the
    * marker segments from SOI (the only way to reach SOF — real files
    * carry a variable-length APPn/EXIF/DQT/DHT prefix): big-endian
    * height/width, sample precision, component count, and which SOF
    * marker carried them (0xC0 baseline … 0xCF, excluding the
    * non-frame 0xC4/0xC8/0xCC). Returns null — never a misparse — on
    * any malformed structure: missing SOI, a marker without its 0xFF
    * prefix, a segment length overrunning the buffer, SOS/EOI before
    * any SOF, or a SOF payload whose length doesn't match its
    * component count.
    */
  def sof(b: Array[Byte]): Any = {
    import org.apache.spark.sql.catalyst.InternalRow
    if (b == null || b.length < 4) return null
    if (b(0) != 0xFF.toByte || b(1) != 0xD8.toByte) return null // no SOI
    var i = 2
    while (i + 3 < b.length) {
      if (b(i) != 0xFF.toByte) return null // marker desync
      val marker = b(i + 1) & 0xFF
      if (marker == 0xFF) { // fill byte padding before a marker
        i += 1
      } else if (marker == 0x01 || (marker >= 0xD0 && marker <= 0xD7)) {
        i += 2 // standalone marker, no length
      } else if (marker == 0xD9 || marker == 0xDA) {
        return null // EOI / SOS reached with no frame header seen
      } else {
        val len = ((b(i + 2) & 0xFF) << 8) | (b(i + 3) & 0xFF)
        if (len < 2 || i + 2 + len > b.length) return null
        val isSof = marker >= 0xC0 && marker <= 0xCF &&
          marker != 0xC4 && marker != 0xC8 && marker != 0xCC
        if (isSof) {
          if (len < 8) return null
          val precision = b(i + 4) & 0xFF
          val h = ((b(i + 5) & 0xFF) << 8) | (b(i + 6) & 0xFF)
          val w = ((b(i + 7) & 0xFF) << 8) | (b(i + 8) & 0xFF)
          val nComp = b(i + 9) & 0xFF
          if (len != 8 + 3 * nComp) return null
          return InternalRow(marker, precision, h, w, nComp)
        }
        i += 2 + len
      }
    }
    null
  }
}

/** `jpeg_sof(binary) -> struct<sof_marker, sof_precision, height,
  * width, n_components>` — the JPEG frame-header walk as a native
  * codegen'd expression ([[JpegMath.sof]]); null (not a misparse) for
  * any malformed stream.
  */
case class JpegSofExpr(child: org.apache.spark.sql.catalyst.expressions.Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires BINARY input, got ${child.dataType.catalogString}")
  override def dataType: DataType = JpegMath.sofType
  // the kernel returns null for malformed streams even when the input
  // is non-null, so the expression must declare nullability
  override def nullable: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    JpegMath.sof(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, p => s"""
         Object r = graft.multimodal.JpegMath.sof($p);
         if (r == null) { ${ev.isNull} = true; }
         else { ${ev.value} = (org.apache.spark.sql.catalyst.InternalRow) r; }
       """)
  override protected def withNewChildInternal(
      newChild: org.apache.spark.sql.catalyst.expressions.Expression): JpegSofExpr =
    copy(child = newChild)
  override def prettyName: String = "jpeg_sof"
}

/** Shared box-walk math for the MP4 kernel — one implementation for
  * the interpreted eval and the generated code (the `WavMath` pattern).
  */
object Mp4Math {
  import org.apache.spark.sql.catalyst.InternalRow

  private val metaStruct = StructType(Seq(
    StructField("major_brand", StringType, nullable = false),
    StructField("timescale", IntegerType, nullable = false),
    StructField("duration", LongType, nullable = false),
    StructField("track_id", IntegerType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false)))

  /** Result type of [[meta]]. */
  val metaType: DataType = metaStruct

  /** ISO-BMFF container metadata: walk the top-level boxes for
    * `ftyp` (major brand) and `moov`, then moov's children for `mvhd`
    * (v0/v1: timescale, duration) and the first `trak`'s `tkhd`
    * (v0/v1: track id, 16.16 fixed-point width/height → pixels). Every
    * size is validated against its parent before it is trusted —
    * largesize (size==1 + 64-bit length) and to-end (size==0) boxes
    * are handled, any overrun or missing required box returns null
    * (never a misparse), and `size ≥ header` guarantees the walk
    * terminates. One pass over the raw bytes, integer arithmetic only.
    */
  def meta(b: Array[Byte]): InternalRow = {
    if (b == null || b.length < 16) return null
    def be(off: Int, n: Int): Long = {
      var v = 0L; var i = 0
      while (i < n) { v = (v << 8) | (b(off + i) & 0xFF); i += 1 }
      v
    }
    def typ(off: Int): String = {
      val c = new Array[Char](4); var i = 0
      while (i < 4) { c(i) = (b(off + i) & 0xFF).toChar; i += 1 }
      new String(c)
    }
    // returns (payloadStart, boxEnd) or null on a malformed header
    def header(pos: Int, limit: Int): (Int, Long) = {
      if (pos + 8 > limit) return null
      var size = be(pos, 4)
      var hdr = 8
      if (size == 1) {
        if (pos + 16 > limit) return null
        size = be(pos + 8, 8); hdr = 16
      } else if (size == 0) size = (limit - pos).toLong
      if (size < hdr || pos + size > limit) return null
      (pos + hdr, pos + size)
    }
    var brand: String = null
    var timescale = -1L; var duration = -1L
    var trackId = -1L; var w = -1L; var h = -1L
    var pos = 0
    while (pos < b.length) {
      val hd = header(pos, b.length)
      if (hd == null) return null
      val (p, endL) = hd; val end = endL.toInt
      typ(pos + 4) match {
        case "ftyp" =>
          if (p + 8 > end) return null
          brand = typ(p)
        case "moov" =>
          var cpos = p
          while (cpos < end) {
            val chd = header(cpos, end)
            if (chd == null) return null
            val (cp, cendL) = chd; val cend = cendL.toInt
            typ(cpos + 4) match {
              case "mvhd" =>
                if (cp + 1 > cend) return null
                val v = b(cp) & 0xFF
                if (v == 0) {
                  if (cp + 20 > cend) return null
                  timescale = be(cp + 12, 4); duration = be(cp + 16, 4)
                } else {
                  if (cp + 32 > cend) return null
                  timescale = be(cp + 20, 4); duration = be(cp + 24, 8)
                }
              case "trak" if trackId < 0 =>
                var gpos = cp
                while (gpos < cend) {
                  val ghd = header(gpos, cend)
                  if (ghd == null) return null
                  val (gp, gendL) = ghd; val gend = gendL.toInt
                  if (typ(gpos + 4) == "tkhd") {
                    val v = b(gp) & 0xFF
                    if (v == 0) {
                      if (gp + 84 > gend) return null
                      trackId = be(gp + 12, 4)
                      w = be(gp + 76, 4) >> 16; h = be(gp + 80, 4) >> 16
                    } else {
                      if (gp + 96 > gend) return null
                      trackId = be(gp + 20, 4)
                      w = be(gp + 88, 4) >> 16; h = be(gp + 92, 4) >> 16
                    }
                  }
                  gpos = gend
                }
              case _ => () // udta/meta/other children: skip
            }
            cpos = cend
          }
        case _ => () // free/mdat/unknown top-level boxes: skip
      }
      pos = end
    }
    if (brand == null || timescale <= 0 || duration < 0 || trackId < 0 || w < 0)
      null
    else InternalRow(
      org.apache.spark.unsafe.types.UTF8String.fromString(brand),
      timescale.toInt, duration, trackId.toInt, w.toInt, h.toInt)
  }
}

/** `mp4_meta(binary) -> struct<major_brand, timescale, duration,
  * track_id, width, height>` — the ISO-BMFF box walk as a native
  * codegen'd expression ([[Mp4Math.meta]]); null (not a misparse) for
  * any malformed container.
  */
case class Mp4MetaExpr(child: org.apache.spark.sql.catalyst.expressions.Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires BINARY input, got ${child.dataType.catalogString}")
  override def dataType: DataType = Mp4Math.metaType
  override def nullable: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    Mp4Math.meta(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, p => s"""
         Object r = graft.multimodal.Mp4Math.meta($p);
         if (r == null) { ${ev.isNull} = true; }
         else { ${ev.value} = (org.apache.spark.sql.catalyst.InternalRow) r; }
       """)
  override protected def withNewChildInternal(
      newChild: org.apache.spark.sql.catalyst.expressions.Expression): Mp4MetaExpr =
    copy(child = newChild)
  override def prettyName: String = "mp4_meta"
}

/** Session registration for the media kernels — bound once per
  * session, so any query path may call it.
  */
object MediaFunctions {
  import graft.catalyst.Kernel
  private val kernels: Seq[Kernel] = Seq(
    Kernel("wav_sum_sq", classOf[WavSumSqExpr], c => WavSumSqExpr(c.head)),
    Kernel("wav_frame_stats", classOf[WavFrameStatsExpr],
      c => WavFrameStatsExpr(c.head, c(1))),
    Kernel("png_resize_stats", classOf[PngResizeStatsExpr],
      c => PngResizeStatsExpr(c.head, c(1))),
    Kernel("jpeg_sof", classOf[JpegSofExpr], c => JpegSofExpr(c.head)),
    Kernel("mp4_meta", classOf[Mp4MetaExpr], c => Mp4MetaExpr(c.head)))

  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    Kernel.register(spark, kernels)
}
