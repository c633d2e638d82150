package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Multimodal-column handling for a training-data pipeline: image/audio/
  * video payloads as opaque `binary` columns with typed metadata, a REAL
  * batch decode stage (PNG inflate+unfilter, JPEG via the JDK codec, WAV
  * PCM), the exact binary dedup + per-modality dataset card, and the
  * integer PLANNING ops (resize geometry, video frame sampling, audio
  * STFT windows, fetch coalescing, shard packing) that decide WHAT media
  * work happens before any byte is decoded.
  *
  * Since round 14 the fixture payloads are FULLY VALID media containers —
  * the PNG carries a stored-deflate IDAT with a correct Adler-32 and a
  * per-row Up-filtered vertical gradient, the JPEG is a complete baseline
  * grayscale image (DQT, custom DHT, an entropy-coded scan) that the JDK
  * codec decodes, and the WAV has been real PCM all along. Since round 16
  * the MP4's mdat is Motion-JPEG: every stsz/stco sample extent is itself
  * a complete baseline JPEG, so video decodes END TO END through the
  * sample-table walk + the JDK codec (full-decode stats in the decode
  * report; keyframe-plan frame decode in q_mm_vframes; perceptual video
  * dedup in q_mm_vdedup). The decode stage reads REAL pixels and samples;
  * the DuckDB oracle replays the decoded statistics ARITHMETICALLY from
  * the same generator functions, so the gate cross-checks an actual codec
  * path against closed-form math. The remaining quarantine is
  * codec-hostile bytes only (H.26x bitstreams, broken tables).
  *
  * The batch shape is the production one throughout: mapPartitions gives
  * one iterator per partition, so codec state (ImageIO cache config,
  * reusable Inflater) is initialized once per partition, not per row —
  * the Scala analogue of mapInPandas batches, and exactly the shape a
  * 100 TB decode fan-out needs.
  */
object MultimodalOps {

  case class Asset(asset_id: Long, modality: String, payload: Array[Byte],
      width: Long, height: Long, duration_ms: Long)
  case class AssetFeatures(asset_id: Long, modality: String, byte_len: Int,
      features: Array[Double])
  /** Integer-exact decode outcome: sums, not means — the single double
    * divisions happen in the DataFrame where the oracle can mirror them
    * expression-for-expression. n_units = pixels (image: one frame;
    * video: summed over ALL Motion-JPEG samples) / samples (audio);
    * 0 with null stats = the quarantine row (no decoder for the sample
    * bitstream, or a malformed container). */
  case class DecodedStats(asset_id: Long, modality: String, format: String,
      byte_len: Long, width: Option[Long], height: Option[Long],
      sample_rate: Option[Long], duration_ms: Long, n_units: Long,
      u_min: Option[Long], u_max: Option[Long],
      u_sum: Option[Long], u_sumsq: Option[Long])
  /** One audio energy window: integer sum-of-squares over the window's
    * decoded PCM samples (exact; the RMS is one sqrt away and would not
    * be bit-replayable, the sum is). */
  case class EnergyWindow(asset_id: Long, n_windows: Long, win_idx: Long,
      n_samples: Long, energy: Long, max_abs: Long)

  // ------------------------------------------- container framing
  // The fixture payloads carry GENUINE media wire framing — a parser
  // that doesn't actually read magic bytes and header fields cannot
  // answer q_mm_parse, and a decoder that doesn't actually inflate /
  // entropy-decode cannot answer q_mm_decode. Construction goes through
  // HEX STRINGS on both engines (Spark unhex ∘ concat ∘ lpad ∘ hex ==
  // DuckDB's identical chain), which is what makes the blob
  // byte-identical cross-engine without either side being able to copy
  // the other's binary literals. CRC-32 fields are ZEROED (a zlib CRC
  // is not closed-form SQL; the JDK PNG reader verifiably ignores chunk
  // CRCs — probed in MediaDecodeSpec), while the zlib Adler-32 IS
  // emitted correctly via its closed form over the generated raster.
  /** PNG signature + IHDR(len+type) prefix, then width/height BE u32s. */
  private[graft] val PngPreHex = "89504E470D0A1A0A" + "0000000D" + "49484452"
  /** bit-depth 8, color-type 0 (grayscale — one byte per pixel, so the
    * raster is an exact integer function of (w, h, v0)), compression/
    * filter/interlace 0, then a zeroed IHDR CRC. */
  private[graft] val PngPostHex = "08" + "00" + "00" + "00" + "00" + "00000000"
  /** "WAVE" + "fmt " + fmt-chunk size 16 (LE) + PCM (1, LE16) + mono. */
  private[graft] val WavStaticHex = "57415645" + "666D7420" + "10000000" + "0100" + "0100"
  /** block-align 2 (LE16) + bits-per-sample 16 (LE16), then "data". */
  private[graft] val WavTailHex = "02001000" + "64617461"
  /** 16-byte `ftyp` box: BE size 16 + "ftyp" + "isom" + minor 0x200. */
  private[graft] val Mp4HeaderHex = "00000010" + "66747970" + "69736F6D" + "00000200"
  /** Planted `free` box inside moov (16 bytes: header + 8 zero bytes) —
    * a walker that doesn't skip unknown boxes by their OWN size fields
    * cannot reach the sample tables behind it. */
  private[graft] val Mp4FreeHex = "00000010" + "66726565" + ("00" * 8)
  /** `mdhd` v0 prefix: size 32 + type + version/flags + ctime + mtime +
    * timescale 1000 (ticks = milliseconds); BE32 duration and the
    * language/pre_defined tail ("und", 0) are appended per asset. */
  private[graft] val Mp4MdhdPreHex =
    "00000020" + "6D646864" + "00000000" + "00000000" + "00000000" + "000003E8"
  /** Planted `udta` box closing moov (28 bytes: header + 4 zero bytes +
    * the 16-byte text digest) — the trailing-sibling skip case, and the
    * carrier of the payload's text-injectivity token: frame parameters
    * derive from only ~16 digest bits + n_chars, so without the full
    * digest two DIFFERENT texts could collide to byte-identical videos
    * and corrupt the dedup structure the documents' planted dups induce.
    * The digest rides in metadata a walker must skip, NOT in mdat —
    * every mdat byte belongs to a decodable sample extent. */
  private[graft] val Mp4UdtaPreHex = "0000001C" + "75647461" + "00000000"
  /** JPEG: SOI, then a canonical 18-byte JFIF APP0 segment (len 16,
    * "JFIF\0", version 1.1, aspect-ratio units, 1:1 density, no thumb). */
  private[graft] val JpegApp0Hex =
    "FFD8" + "FFE0" + "0010" + "4A46494600" + "0101" + "00" +
      "0001" + "0001" + "00" + "00"
  /** DQT: one 8-bit table, id 0, ALL ONES — with q=1 a DC-only block
    * round-trips EXACTLY through quantization, which is what makes the
    * decoded raster arithmetically predictable (ITU T.81 §B.2.4.1). */
  private[graft] val JpegDqtHex = "FFDB" + "0043" + "00" + ("01" * 64)
  /** SOF0 (baseline) prefix: marker, length 11, precision 8 — BE16
    * height and width follow, then the single-component (grayscale,
    * 1x1 sampling, q-table 0) spec. */
  private[graft] val JpegSof0PreHex = "FFC0" + "000B" + "08"
  /** component COUNT (1), then the component spec: id 1, 1x1 sampling,
    * q-table 0 — four bytes, completing the declared 11-byte payload. */
  private[graft] val JpegSofCompHex = "01" + "01" + "11" + "00"
  /** DHT, DC class: BITS declares twelve 4-bit codes, so canonical
    * Huffman assigns category c the code c (0000..1011) — category 0
    * (the "DC diff = 0" of every block after the first) is 4 bits. */
  private[graft] val JpegDhtDcHex =
    "FFC4" + "001F" + "00" + "000000" + "0C" + ("00" * 12) +
      "000102030405060708090A0B"
  /** DHT, AC class: a single 4-bit code for symbol 0x00 = EOB. Each
    * block after the first encodes as cat0(4 bits) + EOB(4 bits) — one
    * 0x00 byte per MCU, so the scan is a pure repeat() both engines can
    * generate. */
  private[graft] val JpegDhtAcHex =
    "FFC4" + "0014" + "10" + "000000" + "01" + ("00" * 12) + "00"
  /** SOS: one component, DC/AC table 0, full spectral range. */
  private[graft] val JpegSosHex = "FFDA" + "0008" + "01" + "0100" + "00" + "3F" + "00"
  val PngHeaderBytes = 33L  // 8 sig + 4 len + 4 type + 13 data + 4 crc
  val WavHeaderBytes = 44L  // the canonical RIFF/PCM header
  val Mp4HeaderBytes = 16L  // the ftyp box alone
  /** SOI(2) + APP0(18) + DQT(69) + SOF0(13): the walker's header stops
    * at the end of the SOF segment; DHTs/SOS/scan are "body". */
  val JpegHeaderBytes = 102L
  /** Audio sample rates round-robined into the WAV headers. */
  val SampleRates = Seq(16000L, 22050L, 24000L, 44100L, 48000L)
  /** PNG dims are thumbnail-class so the whole raster h·(w+1) fits ONE
    * stored-deflate block (≤ 65535 bytes): 192·257 = 49,344. JPEGs keep
    * the full 640/480-class dims — their scan is one byte per 8×8 MCU,
    * so size scales with blocks, not pixels. Both straddle the 224
    * resize boundary, keeping the resize plan's two arms exercised. */
  val PngMaxW = 256L
  val PngMaxH = 192L

  private def be32Hex(c: Column) = lpad(hex(c), 8, "0")
  private def be16Hex(c: Column) = lpad(hex(c), 4, "0")
  private def le32Hex(c: Column) = {
    val h = be32Hex(c)
    concat(substring(h, 7, 2), substring(h, 5, 2),
      substring(h, 3, 2), substring(h, 1, 2))
  }
  private def le16Hex(c: Column) = {
    val h = be16Hex(c)
    concat(substring(h, 3, 2), substring(h, 1, 2))
  }
  private def rep(s: Column, n: Column) = call_function("repeat", s, n)

  /** Asset table synthesized from `documents`: payload = a REAL,
    * DECODABLE media container. Images split by id parity into PNG
    * (grayscale, stored-deflate IDAT, per-row Up-filter encoding the
    * vertical gradient pixel(x,y) = (v0 + y) mod 256) and JPEG (baseline
    * grayscale, all-ones quant table, custom DHT whose per-MCU emission
    * is exactly one 0x00 byte — every pixel decodes to the constant vj).
    * v0/vj derive from md5(text), so byte-identical texts still produce
    * byte-identical payloads (the dedup structure documents' text dups
    * induce survives the synthesis). Audio is a valid PCM WAV whose data
    * chunk is the text's utf-8 bytes (LE16 samples); video is a
    * COMPLETE, DECODABLE MP4 — ftyp + moov(trak/mdia/mdhd/minf/stbl
    * with real stts/stsc/stsz/stco tables, plus planted free/udta boxes
    * a walker must skip) + a Motion-JPEG mdat whose every sample extent
    * is a complete baseline JPEG, so the frame plan derives byte offsets
    * from the PARSED sample tables and the decode feeds those extents to
    * the JDK codec. Dimensions, sample rate and
    * media duration are written into the actual header bytes AND
    * mirrored in catalog columns, so the parse path is checkable against
    * the metadata. */
  def assets(spark: SparkSession, dir: String): DataFrame =
    assetsFrom(Tables.documents(spark, dir))

  /** The synthesis itself, over ANY documents-shaped frame — a streaming
    * source included (assetIntakeStream's stream≡batch spec applies this
    * to a readStream, so stream and batch literally share the shape).
    * All pure deterministic column expressions: hex chains, repeat(),
    * and the Adler-32 CLOSED FORM (derived below, pinned against
    * java.util.zip.Adler32 in MediaDecodeSpec) — no UDFs, no explode. */
  def assetsFrom(docs: DataFrame): DataFrame = {
    val modality = element_at(typedlit(Seq("image", "audio", "video")),
      (col("doc_id") % 3 + 1).cast("int"))
    val isPng = modality === "image" && col("doc_id") % 6 === 0
    val width = when(isPng, col("n_chars") % PngMaxW + 1)
      .otherwise(col("n_chars") % 640 + 1)
    val height = when(isPng, col("n_chars") % PngMaxH + 1)
      .otherwise(col("n_chars") % 480 + 1)
    val rate = element_at(typedlit(SampleRates),
      (col("doc_id") % 5 + 1).cast("int"))
    val body = col("text").cast("binary")
    val bodyLen = length(body).cast("long")

    val staged = docs
      .withColumn("_mod", modality)
      .withColumn("_w", width.cast("long"))
      .withColumn("_h", height.cast("long"))
      // gradient base (PNG) and gray level (JPEG) from the text digest:
      // v0 ∈ [0,255]; vj ∈ [144,159] — vj's DC diff 8·(vj−128) is an
      // 8-bit category-8 value, which byte-aligns the scan prefix
      .withColumn("_v0", conv(substring(md5(col("text")), 1, 2), 16, 10).cast("long"))
      .withColumn("_vj", conv(substring(md5(col("text")), 1, 1), 16, 10).cast("long") + 144L)
      // PNG raster size: one filter byte + w pixels per row
      .withColumn("_r", expr("_h * (_w + 1)"))
      // Adler-32 closed form over the generated raster. Bytes: row 0 is
      // [0, v0×w]; rows 1..h-1 are [2, 1×w]. s1 = 1 + Σb. s2 = R + Σᵢ
      // (R−i+1)·bᵢ, split into the v0 run, the filter-2 bytes, and the
      // all-ones body (mod 65521; max term ≈ 255·R² ≈ 6.2e11, safe in
      // BIGINT). Pinned against java.util.zip.Adler32 in the spec.
      .withColumn("_s1", expr("(1 + _w * _v0 + (_h - 1) * (_w + 2)) % 65521"))
      .withColumn("_s2", expr(
        """(_r
            + _v0 * (_w * _r - (_w * (_w + 1)) DIV 2)
            + 2 * ((_h - 1) * _r - (_w + 1) * ((_h * (_h - 1)) DIV 2))
            + (_w * ((_h - 1) * _r - (_w + 1) * ((_h * (_h - 1)) DIV 2))
               - (_h - 1) * ((_w * (_w + 1)) DIV 2))) % 65521"""))
      // JPEG MCU count and the byte-aligned scan prefix: 16 bits =
      // [cat8 code 1000][8 diff bits of D=8·(vj−128)][EOB 0000]
      .withColumn("_nmcu", expr("((_w + 7) DIV 8) * ((_h + 7) DIV 8)"))
      .withColumn("_scanpre", lpad(hex(expr("32768 + (8 * (_vj - 128)) * 16")), 4, "0"))
      // MP4 sample-table generators: one sample per second of nominal
      // duration (+1 so even the shortest clip has a table), per-sample
      // sizes ALTERNATING between two doc-derived values — stsz stays
      // repeat()-generable as (szA‖szB) pairs yet is genuinely
      // non-uniform, so a frame plan must read the table, not divide
      .withColumn("_dur", expr("n_chars * 40"))
      .withColumn("_nsmp", expr("_dur DIV 1000 + 1"))
      .withColumn("_sdelta", expr("_dur DIV _nsmp")) // stts tick delta (timescale 1000)
      // Motion-JPEG frame generators: every sample extent holds a REAL
      // baseline JPEG (the image recipe above — all-ones quant, DC-only,
      // one 0x00 byte per MCU), alternating two doc-derived variants so
      // consecutive frames genuinely differ in dims AND gray level.
      // Dims are 8-multiples (whole MCUs ⇒ decoded pixels are exactly
      // the constant v, no edge-block cropping arithmetic); grays stay
      // in [144,159] so the DC diff is category 8 and the scan prefix
      // byte-aligns. Frame size = 102 header + DHTs/SOS (65) + scan
      // prefix 2 + (nmcu−1) + EOI 2 = 170 + nmcu bytes.
      .withColumn("_fwa", expr("8 * (1 + _v0 % 4)"))
      .withColumn("_fha", expr("8 * (1 + (_v0 DIV 4) % 4)"))
      .withColumn("_fva", col("_vj"))
      .withColumn("_fwb", expr("8 * (1 + _vj % 4)"))
      .withColumn("_fhb", expr("8 * (1 + (_vj DIV 4) % 4)"))
      .withColumn("_fvb", expr("144 + _v0 % 16"))
      .withColumn("_nma", expr("(_fwa DIV 8) * (_fha DIV 8)"))
      .withColumn("_nmb", expr("(_fwb DIV 8) * (_fhb DIV 8)"))
      .withColumn("_sza", expr("170 + _nma"))
      .withColumn("_szb", expr("170 + _nmb"))
      .withColumn("_stotal", expr("(_nsmp DIV 2) * (_sza + _szb) + (_nsmp % 2) * _sza"))

    val pngHex = concat(
      lit(PngPreHex), be32Hex(col("_w")), be32Hex(col("_h")), lit(PngPostHex),
      // IDAT: len = zlib bytes (2 hdr + 5 stored-block framing + R + 4 adler)
      be32Hex(expr("_r + 11")), lit("49444154"),
      lit("7801"), lit("01"), le16Hex(col("_r")), le16Hex(expr("65535 - _r")),
      // raster: row0 = filter 0 + v0×w; rows 1.. = filter 2 (Up) + 1×w —
      // the decoder reconstructs the (v0+y) mod 256 vertical gradient
      lit("00"), rep(lpad(hex(col("_v0")), 2, "0"), col("_w")),
      rep(concat(lit("02"), rep(lit("01"), col("_w"))), expr("_h - 1")),
      lpad(hex(col("_s2")), 4, "0"), lpad(hex(col("_s1")), 4, "0"),
      lit("00000000"),                       // IDAT CRC (zeroed; reader ignores)
      lit("00000000"), lit("49454E44"), lit("00000000"))  // IEND

    val jpegHex = concat(
      lit(JpegApp0Hex), lit(JpegDqtHex),
      lit(JpegSof0PreHex), be16Hex(col("_h")), be16Hex(col("_w")), lit(JpegSofCompHex),
      lit(JpegDhtDcHex), lit(JpegDhtAcHex), lit(JpegSosHex),
      col("_scanpre"), rep(lit("00"), expr("_nmcu - 1")), lit("FFD9"))

    // One Motion-JPEG frame: the image recipe above, parameterized per
    // variant — every byte extent stsz/stco addresses IS a decodable
    // baseline JPEG, so the keyframe plan feeds javax.imageio directly.
    def jpegFrame(w: Column, h: Column, v: Column, nm: Column): Column =
      concat(
        lit(JpegApp0Hex), lit(JpegDqtHex),
        lit(JpegSof0PreHex), be16Hex(h), be16Hex(w), lit(JpegSofCompHex),
        lit(JpegDhtDcHex), lit(JpegDhtAcHex), lit(JpegSosHex),
        lpad(hex((v - 128L) * 8L * 16L + 32768L), 4, "0"),
        rep(lit("00"), nm - 1), lit("FFD9"))
    val jpegA = jpegFrame(col("_fwa"), col("_fha"), col("_fva"), col("_nma"))
    val jpegB = jpegFrame(col("_fwb"), col("_fhb"), col("_fvb"), col("_nmb"))
    val udtaHex = concat(lit(Mp4UdtaPreHex), upper(md5(col("text"))))

    // MP4: a complete box tree — ftyp, moov{free, trak{mdia{mdhd,
    // minf{stbl{stts, stsc, stsz, stco}}}}, udta}, mdat. Box sizes are
    // functions of the sample count n (stbl = 100+4n, moov = 208+4n;
    // mdat payload starts at byte 232+4n — the stco chunk offset). The
    // mdat is the frame sequence itself: alternating A/B JPEGs whose
    // sizes are exactly the stsz entries (the text digest rides in udta,
    // keeping payload dedup structure text-determined without putting
    // non-sample bytes inside mdat).
    // Videos split into TWO layout variants so the GATE (not just the
    // golden spec) exercises the chunk-mapping walk: ids ≡ 2 (mod 6)
    // get this single-chunk layout; ids ≡ 5 (mod 6) with ≥ 3 samples
    // get the two-chunk variant below.
    val mp4Hex = concat(
      lit(Mp4HeaderHex),
      be32Hex(expr("208 + 4 * _nsmp")), lit("6D6F6F76"),          // moov
      lit(Mp4FreeHex),                                            // planted skip
      be32Hex(expr("156 + 4 * _nsmp")), lit("7472616B"),          // trak
      be32Hex(expr("148 + 4 * _nsmp")), lit("6D646961"),          // mdia
      lit(Mp4MdhdPreHex), be32Hex(col("_dur")), lit("55C40000"),  // mdhd
      be32Hex(expr("108 + 4 * _nsmp")), lit("6D696E66"),          // minf
      be32Hex(expr("100 + 4 * _nsmp")), lit("7374626C"),          // stbl
      // stts: ONE run of n samples at delta ticks each
      lit("00000018" + "73747473" + "00000000" + "00000001"),
      be32Hex(col("_nsmp")), be32Hex(col("_sdelta")),
      // stsc: ONE chunk carrying all n samples (desc id 1)
      lit("0000001C" + "73747363" + "00000000" + "00000001" + "00000001"),
      be32Hex(col("_nsmp")), lit("00000001"),
      // stsz: per-sample sizes, szA/szB alternating (odd n: trailing szA)
      be32Hex(expr("20 + 4 * _nsmp")), lit("7374737A" + "00000000" + "00000000"),
      be32Hex(col("_nsmp")),
      rep(concat(be32Hex(col("_sza")), be32Hex(col("_szb"))), expr("_nsmp DIV 2")),
      when(expr("_nsmp % 2 = 1"), be32Hex(col("_sza"))).otherwise(lit("")),
      // stco: the one chunk starts where mdat's payload does
      lit("00000014" + "7374636F" + "00000000" + "00000001"),
      be32Hex(expr("232 + 4 * _nsmp")),
      udtaHex,                                    // planted skip + digest
      be32Hex(expr("8 + _stotal")), lit("6D646174"),              // mdat
      rep(concat(jpegA, jpegB), expr("_nsmp DIV 2")),
      when(expr("_nsmp % 2 = 1"), jpegA).otherwise(lit("")))

    // TWO-CHUNK variant (video ids ≡ 5 mod 6 with ≥ 3 samples): chunk 1
    // carries samples 0-1, chunks 2+ the rest (two stsc runs, two stco
    // offsets), with FOUR DEAD SLACK BYTES (0x5A) between the chunks
    // inside mdat — bytes no table covers, so a reader that assumes
    // chunk contiguity (ignoring stco[1]) lands every chunk-2 sample
    // exactly 4 bytes early and the offset oracles catch it. This
    // variant also carries an stss SYNC-SAMPLE table (keyframes at
    // samples 1 and n/2+1, 1-based) — the single-chunk variant omits
    // stss, which the spec defines as all-sync, so the keyframe plan
    // exercises both arms. Layout deltas vs the single-chunk form:
    // stsc 28→40, stco 20→24, +stss 24 (appended after stco so the
    // other tables keep their offsets) → moov = 248+4n; chunk 1 at
    // byte 272+4n, chunk 2 at +szA+szB+4; mdat payload = stotal + 4.
    val mp4HexTwoChunk = concat(
      lit(Mp4HeaderHex),
      be32Hex(expr("248 + 4 * _nsmp")), lit("6D6F6F76"),          // moov
      lit(Mp4FreeHex),
      be32Hex(expr("196 + 4 * _nsmp")), lit("7472616B"),          // trak
      be32Hex(expr("188 + 4 * _nsmp")), lit("6D646961"),          // mdia
      lit(Mp4MdhdPreHex), be32Hex(col("_dur")), lit("55C40000"),  // mdhd
      be32Hex(expr("148 + 4 * _nsmp")), lit("6D696E66"),          // minf
      be32Hex(expr("140 + 4 * _nsmp")), lit("7374626C"),          // stbl
      lit("00000018" + "73747473" + "00000000" + "00000001"),     // stts
      be32Hex(col("_nsmp")), be32Hex(col("_sdelta")),
      // stsc: run 1 = (first_chunk 1, 2 samples), run 2 = (2, n-2)
      lit("00000028" + "73747363" + "00000000" + "00000002" +
        "00000001" + "00000002" + "00000001" + "00000002"),
      be32Hex(expr("_nsmp - 2")), lit("00000001"),
      be32Hex(expr("20 + 4 * _nsmp")), lit("7374737A" + "00000000" + "00000000"),
      be32Hex(col("_nsmp")),
      rep(concat(be32Hex(col("_sza")), be32Hex(col("_szb"))), expr("_nsmp DIV 2")),
      when(expr("_nsmp % 2 = 1"), be32Hex(col("_sza"))).otherwise(lit("")),
      // stco: two chunk offsets straddling the 4 slack bytes
      lit("00000018" + "7374636F" + "00000000" + "00000002"),
      be32Hex(expr("272 + 4 * _nsmp")),
      be32Hex(expr("272 + 4 * _nsmp + _sza + _szb + 4")),
      // stss: sync samples 1 and n/2+1 (1-based)
      lit("00000018" + "73747373" + "00000000" + "00000002" + "00000001"),
      be32Hex(expr("_nsmp DIV 2 + 1")),
      udtaHex,
      be32Hex(expr("12 + _stotal")), lit("6D646174"),             // mdat
      jpegA, jpegB,
      lit("5A5A5A5A"),                                            // dead slack
      rep(concat(jpegA, jpegB), expr("_nsmp DIV 2 - 1")),
      when(expr("_nsmp % 2 = 1"), jpegA).otherwise(lit("")))

    val headerHex =
      when(col("_mod") === "image" && col("doc_id") % 6 === 0, pngHex)
      .when(col("_mod") === "image", jpegHex)
      .when(col("_mod") === "audio",
        concat(lit("52494646"), le32Hex(bodyLen + 36L), lit(WavStaticHex),
          le32Hex(rate), le32Hex(rate * 2), lit(WavTailHex),
          le32Hex(bodyLen)))
      .when(col("doc_id") % 6 === 5 && col("_nsmp") >= 3, mp4HexTwoChunk)
      .otherwise(mp4Hex)
    // images and videos are SELF-CONTAINED containers (trailing junk
    // after IEND/EOI would invalidate an image; the MP4 box tree must
    // tile the file exactly); audio wraps the text bytes as PCM body
    val payload =
      when(col("_mod") === "audio", concat(unhex(headerHex), body))
        .otherwise(unhex(headerHex))
    staged.select(
      col("doc_id").as("asset_id"),
      col("_mod").as("modality"),
      payload.as("payload"),
      col("_w").as("width"),
      col("_h").as("height"),
      when(col("_mod") === "audio", rate).as("sample_rate"),
      (col("n_chars") * 40L).as("duration_ms"))
  }

  // ------------------------------------------------------------- decode
  /** Feature dimension produced by the decode stage. */
  val FeatureDim = 8

  // ONE wire-parsing vocabulary for probe and decoder alike — the
  // graftext header expression exposes its bounds-checked byte helpers
  // so a parsing fix can never land in only one of the two readers
  import org.apache.spark.sql.graftext.MediaHeaderParse.{be32, le32, tagAt => tag}

  /** Decoder-side caps on parsed PNG geometry: dimensions and raster
    * size a single task will materialize. Hostile headers (e.g. a
    * 65535×65535 IHDR whose raster size wraps Int, or a multi-GB
    * allocation) must QUARANTINE, not throw/OOM — corrupt bytes at
    * 100 TB are data, not exceptions. */
  private val MaxPngSide = 1 << 14

  // ---- the ONE definition of "valid PCM WAV → samples", shared by the
  // decode stats and the energy windows so the two reports can never
  // disagree on what counts as audio or how a sample is read
  private def isWav(b: Array[Byte]): Boolean =
    b.length >= 44 && tag(b, 0, "RIFF") && tag(b, 8, "WAVE") &&
      tag(b, 12, "fmt ")
  /** LE16 sample count: the data-size FIELD clamped to the bytes that
    * actually exist (a lying header must not index past the payload). */
  private def wavSampleCount(b: Array[Byte]): Int =
    (math.min(le32(b, 40), (b.length - 44).toLong) / 2).toInt
  private def wavSample(b: Array[Byte], k: Int): Long =
    (((b(45 + 2 * k) & 0xFF) << 8) | (b(44 + 2 * k) & 0xFF)).toShort.toLong

  private final class Stats {
    var n = 0L; var mn = Long.MaxValue; var mx = Long.MinValue
    var sum = 0L; var sumsq = 0L
    def add(v: Long): Unit = {
      n += 1; if (v < mn) mn = v; if (v > mx) mx = v
      sum += v; sumsq += v * v
    }
  }

  /** PNG decode: chunk walk → Inflater over the concatenated IDATs →
    * full 5-filter reconstruction (None/Sub/Up/Average/Paeth, PNG spec
    * §9) for the 8-bit grayscale layout the fixture writes. Returns the
    * reconstructed pixel rows or None (quarantine) on any structural
    * violation — corrupt bytes at 100 TB are data, not exceptions. */
  private def decodePng(b: Array[Byte]): Option[(Int, Int, Array[Byte])] = {
    if (b.length < 45 || !tag(b, 12, "IHDR")) return None
    val wl = be32(b, 16); val hl = be32(b, 20)
    // side caps keep h*(w+1) far from Int wrap AND bound the per-task
    // allocation a hostile IHDR could demand
    if (wl <= 0 || hl <= 0 || wl > MaxPngSide || hl > MaxPngSide ||
      b(24) != 8 || b(25) != 0) return None // 8-bit gray only
    val w = wl.toInt; val h = hl.toInt
    // collect IDAT payloads; chunk lengths are u32s from the wire — kept
    // as Long so a length near 2^31 cannot wrap the bounds check
    val zs = new java.io.ByteArrayOutputStream()
    var o = 33L
    var done = false
    while (!done && o + 8 <= b.length) {
      val len = be32(b, o.toInt)
      if (o + 12 + len > b.length) return None
      if (tag(b, o.toInt + 4, "IDAT")) zs.write(b, o.toInt + 8, len.toInt)
      else if (tag(b, o.toInt + 4, "IEND")) done = true
      o += 12 + len
    }
    val raster = new Array[Byte](h * (w + 1))
    val inf = new java.util.zip.Inflater()
    inf.setInput(zs.toByteArray)
    var got = 0
    try {
      while (got < raster.length && !inf.finished()) {
        val k = inf.inflate(raster, got, raster.length - got)
        // ANY zero-progress iteration is corrupt, not just needsInput():
        // a zlib header with FDICT set (e.g. 0x78 0x20 — passes FCHECK)
        // makes inflate() return 0 with needsInput()==false forever via
        // needsDictionary(); treating only truncation as fatal left a
        // reachable infinite loop a crafted payload could hang a task on
        if (k == 0) return None // truncated / preset-dictionary / stuck
        got += k
      }
    } catch { case _: java.util.zip.DataFormatException => return None }
    finally inf.end()
    if (got < raster.length) return None
    // unfilter in place into a pixel buffer (bpp = 1)
    val px = new Array[Byte](h * w)
    var y = 0
    while (y < h) {
      val ft = raster(y * (w + 1)) & 0xFF
      var x = 0
      while (x < w) {
        val raw = raster(y * (w + 1) + 1 + x) & 0xFF
        val a = if (x > 0) px(y * w + x - 1) & 0xFF else 0          // left
        val u = if (y > 0) px((y - 1) * w + x) & 0xFF else 0        // up
        val c = if (x > 0 && y > 0) px((y - 1) * w + x - 1) & 0xFF else 0
        val rec = ft match {
          case 0 => raw
          case 1 => raw + a
          case 2 => raw + u
          case 3 => raw + (a + u) / 2
          case 4 => // Paeth predictor
            val p = a + u - c
            val pa = math.abs(p - a); val pb = math.abs(p - u); val pc = math.abs(p - c)
            raw + (if (pa <= pb && pa <= pc) a else if (pb <= pc) u else c)
          case _ => return None
        }
        px(y * w + x) = (rec & 0xFF).toByte
        x += 1
      }
      y += 1
    }
    Some((w, h, px))
  }

  /** Reusable per-thread JPEG reader. `ImageIO.read` pays a reader-
    * registry scan + plugin construction + dispose on EVERY call; the
    * Motion-JPEG sample extents are ~190-byte frames (tens of samples
    * per video), so that per-call overhead dominated the whole decode
    * family (measured: the r16 opt round's decode-family profile). One
    * reader per task thread decodes through the SAME JDK plugin
    * (`ImageIO.read` resolves the identical com.sun.imageio
    * JPEGImageReader for any JPEG stream), so output is byte-identical —
    * pinned both by MediaDecodeSpec's closed-form oracle replay and a
    * dedicated parity spec. A reader that threw is disposed, not reused:
    * a failed decode may leave plugin state ambiguous. */
  private val jpegReaderTL = new ThreadLocal[javax.imageio.ImageReader]

  /** Decode one JPEG byte extent through the thread's cached reader.
    * Returns null on any decode failure — the same quarantine signal
    * `ImageIO.read` gives (null for no-reader, exception→null here). */
  private def readJpeg(b: Array[Byte], off: Int, len: Int): java.awt.image.BufferedImage = {
    var rd = jpegReaderTL.get()
    if (rd == null) {
      val it = javax.imageio.ImageIO.getImageReadersByFormatName("jpeg")
      if (!it.hasNext) return null
      rd = it.next()
      jpegReaderTL.set(rd)
    }
    val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(b, off, len))
    try {
      rd.setInput(iis, true, true) // seekForwardOnly+ignoreMetadata, as ImageIO.read does
      rd.read(0)
    } catch {
      case _: Exception =>
        try rd.dispose() catch { case _: Throwable => () }
        jpegReaderTL.remove()
        null
    } finally {
      try iis.close() catch { case _: Throwable => () }
    }
  }

  /** Test bridge for the reader-reuse parity spec. */
  private[graft] def readJpegForTest(b: Array[Byte], off: Int, len: Int): java.awt.image.BufferedImage =
    readJpeg(b, off, len)

  /** Accumulate every pixel of band 0 into `s` — shared by the still-
    * image JPEG arm and the per-sample Motion-JPEG video arm, so "what
    * counts as a decoded pixel" has exactly one definition. */
  private def addRaster(img: java.awt.image.BufferedImage, s: Stats): Unit = {
    val ra = img.getRaster
    val w = img.getWidth; val h = img.getHeight
    val row = new Array[Int](w)
    var y = 0
    while (y < h) {
      ra.getSamples(0, y, w, 1, 0, row)
      var x = 0
      while (x < w) { s.add(row(x).toLong); x += 1 }
      y += 1
    }
  }

  /** One asset → integer-exact decoded statistics. PNG via the chunk/
    * inflate/unfilter path above; JPEG via the JDK codec (javax.imageio
    * — a REAL Huffman + IDCT decode); WAV via LE16 PCM parsing of the
    * data chunk; MP4 via the sample-table walk + a PER-SAMPLE JDK JPEG
    * decode (Motion-JPEG: each stsz/stco extent is a complete baseline
    * JPEG). Non-JPEG sample payloads (H.26x etc. — no JDK codec)
    * quarantine the asset, as does any table/extent violation. */
  private def decodeOne(a: Asset): DecodedStats = {
    val b = a.payload
    val n = b.length
    def quarantine(fmt: String) = DecodedStats(a.asset_id, a.modality, fmt,
      n.toLong, None, None, None, a.duration_ms, 0L, None, None, None, None)
    def ofStats(fmt: String, s: Stats, w: Option[Long], h: Option[Long],
        rate: Option[Long]) =
      if (s.n == 0) DecodedStats(a.asset_id, a.modality, fmt, n.toLong,
        w, h, rate, a.duration_ms, 0L, None, None, None, None)
      else DecodedStats(a.asset_id, a.modality, fmt, n.toLong, w, h, rate,
        a.duration_ms, s.n, Some(s.mn), Some(s.mx), Some(s.sum), Some(s.sumsq))

    if (n >= 33 && (b(0) & 0xFF) == 0x89 && tag(b, 1, "PNG")) {
      decodePng(b) match {
        case None => quarantine("png")
        case Some((w, h, px)) =>
          val s = new Stats
          var i = 0
          while (i < px.length) { s.add(px(i) & 0xFFL); i += 1 }
          ofStats("png", s, Some(w.toLong), Some(h.toLong), None)
      }
    } else if (isWav(b)) {
      val s = new Stats
      val nSamp = wavSampleCount(b)
      var k = 0
      while (k < nSamp) { s.add(wavSample(b, k)); k += 1 }
      ofStats("wav", s, None, None, Some(le32(b, 24)))
    } else if (n >= 16 && tag(b, 4, "ftyp") &&
        { val sz = be32(b, 0); sz >= 8 && sz <= n }) {
      // Motion-JPEG: decode EVERY sample extent through the JDK codec
      // and fold all frames' pixels into one stat line. A sample that
      // is not a decodable JPEG (H.26x bitstreams — no JDK codec) or a
      // broken table quarantines the whole asset: at 100 TB a video
      // with one bad frame is suspect data, not a partial answer.
      org.apache.spark.sql.graftext.Mp4Boxes.parse(b) match {
        case Some(t) if t.nSamples > 0 =>
          val s = new Stats
          var ok = true
          var k = 0
          while (ok && k < t.nSamples) {
            val img = readJpeg(b, t.offsets(k).toInt, t.sizes(k).toInt)
            if (img == null) ok = false else addRaster(img, s)
            k += 1
          }
          if (ok) ofStats("mp4", s, None, None, None) else quarantine("mp4")
        case _ => quarantine("mp4")
      }
    } else if (n >= 4 && (b(0) & 0xFF) == 0xFF && (b(1) & 0xFF) == 0xD8) {
      val img = readJpeg(b, 0, n)
      if (img == null) quarantine("jpeg")
      else {
        val s = new Stats
        addRaster(img, s)
        ofStats("jpeg", s, Some(img.getWidth.toLong), Some(img.getHeight.toLong), None)
      }
    } else quarantine("unknown")
  }

  /** Partition-batched decode over the asset table: one iterator per
    * partition, codec config initialized ONCE per partition (the
    * mapInPandas batch contract). ImageIO's disk cache is disabled —
    * per-row temp files on 1000 executors would be an I/O disaster.
    *
    * Partition-local payload-digest cache (the vsampleBatch discipline):
    * identical bytes decode identically, so a payload copy seen again in
    * this partition reuses the payload-derived stats and only the
    * catalog passthrough fields (asset id, modality, duration) are
    * rebuilt — on a replica-heavy corpus the decode cost collapses
    * toward distinct-content size without any extra shuffle (measured:
    * the 100× ledger's q_mm_decode is a full-corpus codec pass; see
    * SCALING.md round 16). The cross-partition residue is bounded by
    * the partition count, and the global never-decode-twice contract
    * stays the snapshot/intake ledger's job. */
  /** Raw-digest map key for PARTITION-LOCAL caches — never leaves the
    * JVM, so no hex expansion needed (hexFp stays the SQL-parity form). */
  private def rawKey(b: Array[Byte]): String =
    new String(java.security.MessageDigest.getInstance("MD5").digest(b),
      java.nio.charset.StandardCharsets.ISO_8859_1)

  private def decodeBatch(batch: Iterator[Asset]): Iterator[DecodedStats] = {
    javax.imageio.ImageIO.setUseCache(false) // per-partition codec init
    val seen = scala.collection.mutable.HashMap.empty[String, DecodedStats]
    batch.map { a =>
      val rep = seen.getOrElseUpdate(rawKey(a.payload), decodeOne(a))
      if (rep.asset_id == a.asset_id) rep
      else rep.copy(asset_id = a.asset_id, modality = a.modality,
        duration_ms = a.duration_ms)
    }
  }

  /** Test bridge: the corrupt-container quarantine spec drives the
    * private decode path with hand-broken payloads. */
  private[graft] def decodeBatchForTest(batch: Iterator[Asset]): Iterator[DecodedStats] =
    decodeBatch(batch)

  /** The decode stage as a typed Dataset — REAL pixels and samples. */
  def decodeStats(spark: SparkSession, dir: String): Dataset[DecodedStats] = {
    import spark.implicits._
    assets(spark, dir).as[Asset].mapPartitions(decodeBatch)
  }

  /** DECODE REPORT: per-asset decoded statistics — unit counts, integer
    * min/max, and the mean / mean-square as single double divisions of
    * exact longs (bit-identical cross-engine). The oracle replays these
    * ARITHMETICALLY from the generator functions: PNG from the gradient
    * closed form, JPEG from the constant-gray construction, WAV by
    * re-slicing the PCM bytes from the payload hex — so the real codec
    * path (inflate, Huffman+IDCT, PCM) is checked against independent
    * math, not against itself. Map-side scan + sort: payload bytes are
    * consumed where they already are, never shuffled. */
  def decodeReport(spark: SparkSession, dir: String): DataFrame =
    decodeStats(spark, dir).toDF()
      .select(col("asset_id"), col("modality"), col("format"), col("byte_len"),
        col("n_units"), col("u_min"), col("u_max"),
        when(col("n_units") > 0, col("u_sum").cast("double") / col("n_units"))
          .as("u_mean"),
        when(col("n_units") > 0, col("u_sumsq").cast("double") / col("n_units"))
          .as("u_ms"))
      .repartition(col("asset_id"))
      .orderBy("asset_id")

  /** The 8-dim feature vector assembled FROM the decoded statistics —
    * every component a fixed chain of double divisions of exact integers
    * (mirrored expression-for-expression in the oracle). Images embed
    * brightness stats + geometry; audio embeds level/energy stats +
    * rate; video (since the mdat became decodable Motion-JPEG) embeds
    * its decoded per-frame brightness moments + pixel volume — the
    * decode work is LOAD-BEARING in the feature/align path, not a
    * stats-only side channel. Quarantined/unknown payloads fall back to
    * size/duration. No component chain shares a divisor order the
    * oracle doesn't replicate. */
  private def featureCols: Seq[Column] = {
    val img = col("modality") === "image" && col("n_units") > 0
    val aud = col("modality") === "audio" && col("n_units") > 0
    val vid = col("modality") === "video" && col("n_units") > 0
    def d(c: Column) = c.cast("double")
    Seq(
      when(img, d(col("u_sum")) / col("n_units") / 255.0)
        .when(aud, d(col("u_sum")) / col("n_units") / 32768.0)
        .when(vid, d(col("u_sum")) / col("n_units") / 255.0)
        .otherwise(d(col("byte_len")) / 1000000.0),
      when(img, d(col("u_min")) / 255.0)
        .when(aud, d(col("u_sumsq")) / col("n_units") / 1.073741824e9)
        .otherwise(d(col("duration_ms")) / 1000000.0),
      when(img, d(col("u_max")) / 255.0)
        .when(aud, d(col("u_min")) / 32768.0)
        .when(vid, d(col("u_min")) / 255.0).otherwise(lit(0.0)),
      when(img, d(col("width")) / 1024.0)
        .when(aud, d(col("u_max")) / 32768.0)
        .when(vid, d(col("u_max")) / 255.0).otherwise(lit(0.0)),
      when(img, d(col("height")) / 1024.0)
        .when(aud, d(col("n_units")) / 1000000.0)
        .when(vid, d(col("n_units")) / 1000000.0).otherwise(lit(0.0)),
      when(img, d(col("n_units")) / 1000000.0)
        .when(aud, d(col("sample_rate")) / 48000.0)
        .when(vid, d(col("byte_len")) / 1000000.0).otherwise(lit(0.0)),
      when(img, d(col("u_sumsq")) / col("n_units") / 65025.0)
        .when(aud, d(col("byte_len")) / 1000000.0)
        .when(vid, d(col("u_sumsq")) / col("n_units") / 65025.0)
        .otherwise(lit(0.0)),
      lit(0.0))
  }

  /** Partition-batched feature extraction over the asset table — the
    * decode → featurize stage, now over REAL decoded pixels/samples. */
  def extractFeatures(spark: SparkSession, dir: String): Dataset[AssetFeatures] = {
    import spark.implicits._
    decodeStats(spark, dir).toDF()
      .select(col("asset_id"), col("modality"),
        col("byte_len").cast("int").as("byte_len"),
        array(featureCols: _*).as("features"))
      .as[AssetFeatures]
  }

  // ------------------------------------------- incremental decode cache
  /** INCREMENTAL DECODE against a persisted ledger (the q_snap_dedup
    * split: assets with id%10 < 8 are the already-processed snapshot,
    * the rest are the arriving batch): a batch payload whose digest the
    * ledger already holds is SERVED FROM CACHE — the anti-join happens
    * BEFORE the decode, and the decode runs once per DISTINCT new
    * payload (copies ride a count, identical bytes decode identically).
    * At 100 TB decode is the expensive stage; this is the "never decode
    * the same bytes twice" contract every media pipeline ends up
    * needing, expressed as dataflow: digest → anti-join → digest-grain
    * representative → mapPartitions decode → stats + copy counts.
    * Payload bytes cross the digest-grain exchange only for NEW digests
    * (the shuffled rows are the representatives, one per digest). */
  /** Digest-grain decode input: the representative asset plus the
    * bookkeeping (fp, copy count) that must survive the decode without a
    * second scan — joining counts back AFTER the decode would recompute
    * the synthesis + anti-join, doubling the batch read at 100 TB. */
  private[operators] case class SnapAsset(fp: String, n_batch_copies: Long,
      asset_id: Long, modality: String, payload: Array[Byte],
      width: Long, height: Long, duration_ms: Long)
  private[operators] case class SnapDecoded(payload_fp: String, asset_id: Long,
      n_batch_copies: Long, modality: String, format: String,
      n_units: Long, u_sum: Option[Long])

  private def snapDecodeBatch(batch: Iterator[SnapAsset]): Iterator[SnapDecoded] = {
    javax.imageio.ImageIO.setUseCache(false) // per-partition codec init
    batch.map { sa =>
      val d = decodeOne(Asset(sa.asset_id, sa.modality, sa.payload,
        sa.width, sa.height, sa.duration_ms))
      SnapDecoded(sa.fp, sa.asset_id, sa.n_batch_copies,
        d.modality, d.format, d.n_units, d.u_sum)
    }
  }

  def snapshotDecode(spark: SparkSession, dir: String): DataFrame = {
    val all = assets(spark, dir)
    val ledger = all.where(pmod(col("asset_id"), lit(10)) < 8)
      .select(md5(hex(col("payload"))).as("fp")).distinct()
    snapshotDecodeFrom(all.where(pmod(col("asset_id"), lit(10)) >= 8), ledger)
      .repartition(col("asset_id"))
      .orderBy("asset_id")
  }

  /** The incremental-decode core over explicit frames — shared by the
    * batch [[snapshotDecode]] and the streaming decode intake
    * ([[graft.streaming.StreamingOps.decodeIntakeStream]] drives it per
    * micro-batch against the accumulated output ledger), so stream and
    * batch literally cannot disagree. `batch` needs asset-shaped columns;
    * `ledgerFps` needs one `fp` column of already-decoded md5 digests. */
  private[graft] def snapshotDecodeFrom(batch: DataFrame,
      ledgerFps: DataFrame): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    // digest-grain representative: ONE ACTUAL ROW per digest — the min
    // over a struct LED by the unique asset_id picks the min-asset_id
    // row wholesale (exactly the row the oracle's min(asset_id) join
    // replays), rather than fabricating a row from independent
    // per-column mins that need not co-occur if a real catalog ever let
    // two same-payload rows carry different meta; the copy count rides
    // THROUGH the decode so the whole query is ONE batch pass
    batch
      .withColumn("fp", md5(hex(col("payload"))))
      .join(ledgerFps, Seq("fp"), "left_anti")
      .groupBy("fp")
      .agg(count(lit(1)).as("n_batch_copies"),
        min(struct(col("asset_id"), col("modality"), col("payload"),
          col("width"), col("height"), col("duration_ms"))).as("rep"))
      .select(col("fp"), col("n_batch_copies"),
        col("rep.asset_id").as("asset_id"),
        col("rep.modality").as("modality"),
        col("rep.payload").as("payload"),
        col("rep.width").as("width"),
        col("rep.height").as("height"),
        col("rep.duration_ms").as("duration_ms"))
      .as[SnapAsset].mapPartitions(snapDecodeBatch).toDF()
      .select(col("payload_fp"), col("asset_id"), col("n_batch_copies"),
        col("modality"), col("format"), col("n_units"), col("u_sum"))
  }

  // ------------------------------------------------- perceptual hash
  /** One image's perceptual hash, computed from REAL decoded pixels. */
  case class PHashRow(asset_id: Long, format: String, phash: String)

  /** 8×8 average-hash over a decoded grayscale image: grid cell (gx,gy)
    * covers the DIV-partitioned pixel block, its bit fires when the
    * cell's mean exceeds the global mean — evaluated as the
    * cross-multiplied INTEGER comparison cellSum·nPix > totalSum·cellPix
    * (exact, tie = 0, empty cells of tiny images = 0), so both engines
    * agree bit-for-bit. Byte gy packs bits LSB-first by gx; the hash is
    * the 16-char uppercase hex of the 8 bytes. */
  private def phashOf(w: Int, h: Int, px: (Int, Int) => Long): String = {
    var total = 0L
    var y = 0
    while (y < h) { var x = 0; while (x < w) { total += px(x, y); x += 1 }; y += 1 }
    val nPix = w.toLong * h
    val bytes = new Array[Int](8)
    var gy = 0
    while (gy < 8) {
      val y0 = gy * h / 8; val y1 = (gy + 1) * h / 8
      var gx = 0
      while (gx < 8) {
        val x0 = gx * w / 8; val x1 = (gx + 1) * w / 8
        var cs = 0L
        var yy = y0
        while (yy < y1) { var xx = x0; while (xx < x1) { cs += px(xx, yy); xx += 1 }; yy += 1 }
        val cp = (x1 - x0).toLong * (y1 - y0)
        if (cs * nPix > total * cp) bytes(gy) |= 1 << gx
        gx += 1
      }
      gy += 1
    }
    bytes.map("%02X".format(_)).mkString
  }

  private def phashBatch(batch: Iterator[Asset]): Iterator[PHashRow] = {
    javax.imageio.ImageIO.setUseCache(false)
    batch.flatMap { a =>
      val b = a.payload
      if (b.length >= 33 && (b(0) & 0xFF) == 0x89 && tag(b, 1, "PNG")) {
        decodePng(b).map { case (w, h, px) =>
          PHashRow(a.asset_id, "png", phashOf(w, h, (x, y) => px(y * w + x) & 0xFFL))
        }
      } else if (b.length >= 4 && (b(0) & 0xFF) == 0xFF && (b(1) & 0xFF) == 0xD8) {
        val img = readJpeg(b, 0, b.length)
        if (img == null) None
        else {
          val ra = img.getRaster
          Some(PHashRow(a.asset_id, "jpeg",
            phashOf(img.getWidth, img.getHeight, (x, y) => ra.getSample(x, y, 0).toLong)))
        }
      } else None // undecodable image: no hash row (quarantined upstream)
    }
  }

  /** PERCEPTUAL IMAGE HASH (aHash — the LAION/DataComp near-dup
    * workhorse): per image asset, the 8×8 block-average hash computed
    * from the DECODED pixels (inflate+unfilter for PNG, the JDK codec
    * for JPEG). Block averaging over the DIV grid IS the "resize to 8×8
    * then threshold at the mean" aHash definition, done in exact integer
    * arithmetic. The oracle replays the hash ARITHMETICALLY: the PNG
    * gradient's block sums reduce to G(v0+y1)−G(v0+y0) per cell with
    * G(m) = 32640·(m DIV 256) + r(r−1)/2 (r = m mod 256), and a
    * constant-gray JPEG hashes to all-zero (every cell mean equals the
    * global mean — the classic aHash flat-image collision, preserved
    * rather than papered over). Map-side scan + contract sort: pixels
    * are consumed where the payload sits; only 16-char hashes move. */
  def imageHashes(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    assets(spark, dir).where(col("modality") === "image").as[Asset]
      .mapPartitions(phashBatch).toDF()
      .select(col("asset_id"), col("format"), col("phash"))
      .repartition(col("asset_id"))
      .orderBy("asset_id")
  }

  /** PERCEPTUAL DEDUP CLASSES: group images by their aHash — the
    * decision stage of a perceptual dedup pass (keep the lowest id per
    * class, count members and how many distinct FORMATS collide in the
    * class — byte-distinct files that look alike are exactly what
    * perceptual dedup exists to find). One shuffle of 8-byte hashes;
    * pixel work stays map-side in [[imageHashes]]. */
  def phashDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    assets(spark, dir).where(col("modality") === "image").as[Asset]
      .mapPartitions(phashBatch).toDF()
      .groupBy(col("phash"))
      .agg(min(col("asset_id")).as("keep_id"),
        count(lit(1)).as("n_members"),
        countDistinct(col("format")).as("n_formats"))
      .orderBy("keep_id")
  }

  // ----------------------------------------------------- audio energy
  /** Energy window geometry, in SAMPLE space: 64-sample windows, 50%
    * overlap — the STFT hop shape at the grain the fixture's PCM bodies
    * actually fill. ([[windowPlan]]'s ms-grain windows are the I/O plan
    * against the catalog duration; the fixture's data chunk is far
    * shorter than its nominal duration, so windowing the DECODED samples
    * is what yields non-degenerate energies.) */
  val EnergyWin = 64L
  val EnergyHop = 32L
  /** Peak-amplitude floor under which a window is flagged silent. */
  val SilenceAbs = 256L

  private def energyBatch(batch: Iterator[Asset]): Iterator[EnergyWindow] =
    batch.flatMap { a =>
      val b = a.payload
      // same validity + sample definition as decodeOne (shared helpers):
      // an asset the decode report quarantines yields the one silent
      // window here, never junk energies parsed from non-WAV bytes
      val nSamp = if (isWav(b)) wavSampleCount(b) else 0
      def sample(k: Int): Long = wavSample(b, k)
      val nWin =
        if (nSamp >= EnergyWin) math.min(MaxWindows, (nSamp - EnergyWin) / EnergyHop + 1)
        else 1L
      (0L until nWin).iterator.map { i =>
        val start = (i * EnergyHop).toInt
        val end = math.min(start + EnergyWin, nSamp.toLong).toInt
        var k = start; var e = 0L; var mx = 0L
        while (k < end) {
          val s = sample(k); e += s * s
          val ab = math.abs(s); if (ab > mx) mx = ab
          k += 1
        }
        EnergyWindow(a.asset_id, nWin, i, math.max(end - start, 0).toLong, e, mx)
      }
    }

  /** PER-WINDOW PCM ENERGY over the decoded audio samples: integer
    * sum-of-squares + peak amplitude per overlapping window (≤
    * [[MaxWindows]], ≥ 1 — an empty data chunk still reports one silent
    * window). The audio twin of the image decode stats: a REAL sample
    * pass, oracled by re-slicing the same PCM bytes from the payload hex
    * in SQL. Map-side flatMap (≤ 64 rows per asset) + the contract sort;
    * sample bytes never shuffle — only the per-window integers do. */
  def audioEnergy(spark: SparkSession, dir: String): DataFrame =
    energyFrame(spark, dir)
      .select(col("asset_id"), col("n_windows"), col("win_idx"),
        col("n_samples"), col("energy"),
        (col("max_abs") < SilenceAbs).as("silence"))
      .repartition(col("asset_id"))
      .orderBy("asset_id", "win_idx")

  /** The raw per-window energy frame (pre-contract-sort), shared by
    * [[audioEnergy]] and [[audioFingerprint]]. */
  private def energyFrame(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    assets(spark, dir).where(col("modality") === "audio").as[Asset]
      .mapPartitions(energyBatch).toDF()
  }

  /** SILENCE-TRIM PLAN — the VAD-style preprocessing decision every
    * audio pipeline makes before spending encoder compute: per asset,
    * the first and last NON-silent energy windows (peak ≥ [[SilenceAbs]]
    * over the DECODED samples), how many leading/trailing windows a trim
    * would drop, and whether anything audible remains at all (`keep` —
    * an all-silent clip is cut, not padded). Window-grain integers off
    * the shared energy frame: one asset-keyed aggregation, sample bytes
    * never shuffle. */
  def trimPlan(spark: SparkSession, dir: String): DataFrame =
    energyFrame(spark, dir)
      .withColumn("loud", col("max_abs") >= SilenceAbs)
      .groupBy("asset_id")
      .agg(max(col("n_windows")).as("n_windows"),
        min(when(col("loud"), col("win_idx"))).as("first_loud"),
        max(when(col("loud"), col("win_idx"))).as("last_loud"),
        sum(when(col("loud"), 1L).otherwise(0L)).as("n_loud"))
      .select(col("asset_id"), col("n_windows"),
        col("first_loud"), col("last_loud"), col("n_loud"),
        // windows a trim drops: everything before the first loud one and
        // after the last; an all-silent clip trims everything and drops
        coalesce(col("first_loud"), col("n_windows")).as("trim_lead"),
        when(col("last_loud").isNotNull,
          col("n_windows") - 1 - col("last_loud")).otherwise(0L)
          .as("trim_tail"),
        col("first_loud").isNotNull.as("keep"))
      .orderBy("asset_id")

  /** Bits of the audio fingerprint (windows beyond this don't vote). */
  val AudioFpBits = 32L

  /** AUDIO FINGERPRINT — the audio twin of [[imageHashes]], the
    * energy-DELTA sign signature at the heart of audio-matching systems
    * (Haitsma-Kalker 2002 / Shazam-family reduce band energies to
    * inter-frame delta signs; one band here since the fixture is mono
    * PCM): bit i fires when window i+1 carries more energy than window
    * i, packed LSB-first over the first [[AudioFpBits]] windows into an
    * 8-hex-char code. Integer-exact (energies are exact sums of
    * squares; ties = 0), so the oracle replays it bit-for-bit via the
    * same lead() chain. Clips with one window fingerprint to all-zero —
    * the flat-audio collision class, mirroring aHash's flat-image one.
    * One lead() window + one groupBy per asset, all partitioned by
    * asset_id: ≤64 integer rows per asset shuffle, samples never do. */
  def audioFingerprint(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("asset_id").orderBy("win_idx")
    energyFrame(spark, dir)
      .withColumn("nxt", lead(col("energy"), 1).over(w))
      .groupBy(col("asset_id"))
      .agg(max(col("n_windows")).as("n_windows"),
        coalesce(sum(when(col("win_idx") < AudioFpBits && col("nxt") > col("energy"),
            expr("shiftleft(CAST(1 AS BIGINT), CAST(win_idx AS INT))"))
          .otherwise(0L)), lit(0L)).as("fp_num"))
      .select(col("asset_id"), col("n_windows"),
        lpad(hex(col("fp_num")), 8, "0").as("afp"))
      .orderBy("asset_id")
  }

  // ------------------------------------- interleaved image-text packing
  /** Fixed token cost charged per image in an interleaved sequence (the
    * vision-encoder patch budget an MMC4/OBELICS-style packer accounts
    * for, cf. Zhu et al. 2023 §3). */
  val ImageTokens = 64L
  /** Token budget per interleaved training sequence. */
  val SeqBudget = 2048L

  /** INTERLEAVED IMAGE-TEXT SEQUENCE PACKING (the MMC4/OBELICS shape):
    * documents stream in doc_id order; a document whose asset is an
    * image contributes that image BEFORE its text (image-then-caption),
    * each image costing a flat [[ImageTokens]], text costing its
    * whitespace token count. Items pack into sequences by the same
    * offset-bucket approximation as `q_pack_sequences`: seq =
    * floor(tokens-before / budget), so a sequence may overflow by at
    * most one item but the whole manifest is ONE window pass. Windows
    * are PARTITIONED BY VOLUME (asset_id ranges), so packing
    * parallelizes at 100 TB instead of serializing on a global running
    * sum; document order is preserved within each volume, which is the
    * interleaving contract. Every doc and every image appears exactly
    * once (the conservation spec pins it). */
  def packMultimodal(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
    val textItems = docs.select(
      col("doc_id"), lit(1L).as("kord"), lit("text").as("kind"),
      col("doc_id").as("ref_id"),
      size(split(col("text"), " ")).cast("long").as("n_toks"))
    val imageItems = docs.where(col("doc_id") % 3 === 0).select(
      col("doc_id"), lit(0L).as("kord"), lit("image").as("kind"),
      col("doc_id").as("ref_id"), lit(ImageTokens).as("n_toks"))
    val items = imageItems.unionAll(textItems)
      .withColumn("volume", expr(s"doc_id DIV $VolumeAssets"))
    val wCum = Window.partitionBy("volume").orderBy("doc_id", "kord")
      .rowsBetween(Window.unboundedPreceding, 0)
    val packed = items
      .withColumn("cum", sum(col("n_toks")).over(wCum))
      .withColumn("seq_id", expr(s"(cum - n_toks) DIV $SeqBudget"))
    val wPos = Window.partitionBy("volume", "seq_id").orderBy("doc_id", "kord")
    packed
      .withColumn("position", row_number().over(wPos).cast("long"))
      .select(col("volume"), col("seq_id"), col("position"), col("kind"),
        col("ref_id"), col("n_toks"))
      .orderBy("volume", "seq_id", "position")
  }

  // ------------------------------------------- cross-modal alignment
  /** Quantization scale applied to the decoded feature components —
    * alignment runs on floor(component · scale) integers so the score
    * is exact on both engines. */
  val AlignScale = 1024L
  /** keep iff cos(asset features, caption embedding) ≥ 3/10 — compared
    * in integers (dot > 0 ∧ dot²·den² ≥ num²·n1·n2), never on a rounded
    * cosine. */
  val AlignTauNum = 3L
  val AlignTauDen = 10L

  /** CROSS-MODAL ALIGNMENT SCORING — the CLIP/CLAP-filter shape of
    * DataComp/LAION curation (Schuhmann 2021, Gadre 2023): every asset
    * is paired with its caption document (the `q_mm_pack` pairing:
    * asset_id = doc_id), the asset side embeds as its DECODED feature
    * vector quantized to integers, the caption side as an
    * 8-bucket hashing-trick token histogram (the `q_hash_embed` recipe
    * at [[FeatureDim]] buckets), and the pair keeps iff the cosine
    * clears τ. Everything the score touches is integer-exact — the dot,
    * both norms, and the keep comparison (cross-multiplied, no rounded
    * cosine in the decision) — so the DuckDB twin replays it
    * bit-for-bit; the reported `align_cos` double is one division by
    * one sqrt of exact longs. Scale shape: one map-side decode scan
    * (features), one token explode + doc-grain 8-way conditional
    * aggregation, one equi-join on the pair key — no pair blow-up, no
    * broadcast of anything corpus-sized. */
  def crossModalAlign(spark: SparkSession, dir: String): DataFrame =
    alignJoin(extractFeatures(spark, dir).toDF(),
      Tables.documents(spark, dir))

  /** Production path of [[crossModalAlign]]: xxhash64 token bucketing
    * instead of the md5 chain the DuckDB twin needs — the hashing-trick
    * shape a 100 TB run deploys (engine-native hash, no hex parsing).
    * Bench-only (`x_mm_align_fast`); the structural pin (identical pair
    * count and identical quantized asset vectors — only the text-side
    * bucket assignment differs) lives in TextMultimodalSpec. */
  def crossModalAlignFast(spark: SparkSession, dir: String): DataFrame =
    alignJoinWith(extractFeatures(spark, dir).toDF(),
      Tables.documents(spark, dir),
      tok => pmod(xxhash64(tok), lit(FeatureDim)))

  /** The alignment dataflow over explicit frames — the spec drives this
    * with planted matched/mismatched caption pairs. `feats` needs
    * (asset_id, modality, features array<double>); `docs` needs
    * (doc_id, text). */
  private[graft] def alignJoin(feats: DataFrame, docs: DataFrame): DataFrame =
    alignJoinWith(feats, docs, md5Bucket)

  /** The gated token bucket: the first 32 bits of md5(token) mod the
    * feature dimension. [[alignJoin]] and [[alignStats]] share it. */
  private def md5Bucket(tok: Column): Column =
    conv(substring(md5(tok), 1, 8), 16, 10).cast("long") % FeatureDim

  /** The one alignment dataflow, parameterized by the token-bucket hash
    * (the assetDedupWith pattern: a semantics change can never
    * half-apply to the md5/xxhash pair). [[alignJoinWith]] appends the
    * contract tail (pre-sort materialization + orderBy);
    * [[alignJoinRawWith]] is the unsorted frame [[alignStats]] and other
    * aggregating consumers build on — an inner sort would be eliminated
    * under their aggregation but the materialization exchange would NOT,
    * and measured +0.33 s of pure overhead on q_mm_align_stats. */
  private def alignJoinWith(feats: DataFrame, docs: DataFrame,
      bucket: Column => Column): DataFrame =
    alignJoinRawWith(feats, docs, bucket)
      .repartition(col("asset_id"))
      .orderBy("asset_id")

  private def alignJoinRawWith(feats: DataFrame, docs: DataFrame,
      bucket: Column => Column): DataFrame = {
    val dims = 1 to FeatureDim
    val q = feats.select(
      col("asset_id") +: col("modality") +:
        dims.map(k => floor(element_at(col("features"), k) * AlignScale)
          .cast("long").as(s"q$k")): _*)
    val bkt = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .select(col("doc_id"), bucket(col("tok")).as("dim"))
    val tAggs = dims.map(k =>
      sum(when(col("dim") === (k - 1), 1L).otherwise(0L)).as(s"t$k"))
    val t = bkt.groupBy("doc_id").agg(tAggs.head, tAggs.tail: _*)
    val dot = dims.map(k => col(s"q$k") * col(s"t$k")).reduce(_ + _)
    val n1 = dims.map(k => col(s"q$k") * col(s"q$k")).reduce(_ + _)
    val n2 = dims.map(k => col(s"t$k") * col(s"t$k")).reduce(_ + _)
    q.join(t, col("asset_id") === col("doc_id"))
      .select(col("asset_id"), col("modality"),
        dot.as("dot"), n1.as("n1"), n2.as("n2"))
      .select(col("asset_id"), col("modality"),
        col("dot"), col("n1"), col("n2"),
        when(col("n1") > 0 && col("n2") > 0,
          col("dot").cast("double") /
            sqrt((col("n1") * col("n2")).cast("double"))).as("align_cos"),
        (col("dot") > 0 &&
          col("dot") * col("dot") * lit(AlignTauDen * AlignTauDen) >=
            lit(AlignTauNum * AlignTauNum) * col("n1") * col("n2")).as("keep"))
  }

  /** PER-MODALITY ALIGNMENT DISTRIBUTION — the curation-dashboard rollup
    * of [[crossModalAlign]]: pair counts, keep counts/fraction, and the
    * integer moments of the alignment evidence (Σdot, Σn1, Σn2, the dot
    * extrema) per modality. Every aggregate is an exact long (or one
    * double division of two exact longs) — a MEAN of align_cos doubles
    * would be accumulation-order-dependent and could never hash-match,
    * so the distribution is published as integer moments instead, which
    * is also the mergeable form a multi-day rollup needs. Bounded-key
    * groupBy over the align frame: one extra map-side-partial exchange. */
  def alignStats(spark: SparkSession, dir: String): DataFrame =
    alignJoinRawWith(extractFeatures(spark, dir).toDF(),
        Tables.documents(spark, dir), md5Bucket)
      .groupBy("modality")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"),
        sum(col("dot")).as("dot_sum"),
        min(col("dot")).as("dot_min"),
        max(col("dot")).as("dot_max"),
        sum(col("n1")).as("n1_sum"),
        sum(col("n2")).as("n2_sum"))
      .select(col("modality"), col("n_pairs"), col("n_keep"),
        (col("n_keep").cast("double") / col("n_pairs")).as("keep_frac"),
        col("dot_sum"), col("dot_min"), col("dot_max"),
        col("n1_sum"), col("n2_sum"))
      .orderBy("modality")

  // ------------------------------------------------------ header probe
  /** Metadata/byte-length projection — the catalog side of the plumbing
    * (byte lengths of the binary payloads + meta columns as written). */
  def assetMeta(spark: SparkSession, dir: String): DataFrame =
    assets(spark, dir)
      .select(col("asset_id"), col("modality"),
        length(col("payload")).cast("long").as("byte_len"),
        col("width"), col("height"), col("sample_rate"),
        col("duration_ms"))
      .repartition(col("asset_id"))
      .orderBy("asset_id")

  /** HEADER PARSE over the payload BYTES — the native
    * [[org.apache.spark.sql.graftext.MediaHeaderParse]] probe reading
    * format magic, PNG BE dimensions, WAV LE sample rate and data size,
    * the MP4 box tree (mdat bytes, stsz sample count, mdhd duration via
    * the [[org.apache.spark.sql.graftext.Mp4Boxes]] walker), and the
    * JPEG SOF dims via a marker walk, per asset. The oracle twin
    * re-parses the identically-constructed blob from its hex image, so a
    * synthesis/parse disagreement on ANY byte breaks the gate. Pure
    * map-side scan: at 100 TB this is the probe pass that runs WITH the
    * ingest read — payload bytes are consumed where they already are,
    * never moved. */
  def headerParse(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftext.MediaColumns.mm_header_parse
    assets(spark, dir)
      .select(col("asset_id"), col("modality"),
        mm_header_parse(col("payload")).as("p"))
      .select(col("asset_id"), col("modality"),
        col("p.format").as("format"),
        col("p.width").as("width"),
        col("p.height").as("height"),
        col("p.sample_rate").as("sample_rate"),
        col("p.body_bytes").as("body_bytes"),
        col("p.n_samples").as("n_samples"),
        col("p.media_ms").as("media_ms"))
      .repartition(col("asset_id"))
      .orderBy("asset_id")
  }

  /** Decoded-feature stats — the oracle-checkable projection of the
    * decode stage (f0/f1 of [[featureCols]]: brightness / level means
    * and their normalizations, exact division chains both engines
    * replay). */
  def featureStats(spark: SparkSession, dir: String): DataFrame =
    extractFeatures(spark, dir).toDF()
      .select(col("asset_id"), col("modality"), col("byte_len"),
        element_at(col("features"), 1).as("f0"),
        element_at(col("features"), 2).as("f1"))
      .repartition(col("asset_id"))
      .orderBy("asset_id")

  /** End-to-end multimodal retrieval: decoded features → cosine top-3
    * within each modality block (the decode → embed → ANN pipeline a
    * multimodal training set needs, with the modality playing the
    * ANN-block role). Feature vectors come from the decode stage and are
    * cast to float[] for the native dot expression.
    * Driver-oracle-checked end-to-end: DuckDB replays the decoded stats
    * arithmetically, the double→float cast (same IEEE round-to-nearest
    * in both engines) and the cosine ranking (list_cosine_similarity —
    * parity proven by q_ann_bruteforce). Every feature vector has a
    * strictly positive norm (images carry w>0, audio carries rate>0,
    * fallbacks carry byte_len>0), and the nrm>0 guard stays as the
    * production zero-vector fence. */
  def featureAnn(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val feats = extractFeatures(spark, dir).toDF()
      .select(col("asset_id"), col("modality"),
        // array-level cast, NOT transform(x -> cast): Cast on an array
        // stays inside whole-stage codegen; the lambda form is the one
        // interpreted HOF the engine's invariant bans on per-asset paths
        col("features").cast("array<float>").as("fv"))
      .withColumn("nrm", VectorOps.norm(col("fv")))
      .where(col("nrm") > 0.0)
      // cached (r16 opt): both the query side and the corpus side read
      // this frame, and the typed mapPartitions decode above is opaque
      // to filter pushdown — uncached, the query side's asset_id < 10
      // filter re-ran the ENTIRE corpus decode a second time. The cached
      // frame is descriptor-small (id, modality, 8 floats, norm).
      .cache()
    val q = feats.where(col("asset_id") < 10)
      .select(col("asset_id").as("query_id"), col("modality").as("q_mod"),
        col("fv").as("qv"), col("nrm").as("nq"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    feats.join(broadcast(q),
        col("modality") === col("q_mod") && col("asset_id") =!= col("query_id"))
      .select(col("query_id"), col("asset_id").as("neighbor_id"),
        VectorOps.cosinePrenorm(col("qv"), col("fv"), col("nq"), col("nrm"))
          .as("cos_sim"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"))
      .orderBy("query_id", "rank")
  }

  /** Target shard payload bytes (WebDataset-style tar shards would use
    * ~100 MB–1 GB; small here so the verify SFs produce multiple shards). */
  val ShardBytes = 65536L
  /** Resize target: longest side after resize (the CLIP/ViT-style
    * preprocessing budget). Never upscale. */
  val ResizeMaxSide = 224L

  /** RESIZE PLAN for image assets: the output geometry each image gets
    * under an aspect-preserving max-side-224 policy — the planning half
    * of the resize stage (the pixel work is the decode stage's job; WHAT
    * to decode into is this). Integer arithmetic only (scaled dims are
    * `(side·224) DIV max_side`, floored, clamped to ≥1), so the plan is
    * engine-replayable and deterministic; pure map-side over the asset
    * scan — the 100 TB shape is a narrow projection that never touches
    * payload bytes. */
  def resizePlan(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftext.MediaColumns.mm_header_parse
    // dims come from the PAYLOAD BYTES via the native header probe, not
    // from the fixture meta columns — the plan is computed the way a real
    // pipeline computes it (probe the container, then plan the decode)
    assets(spark, dir).where(col("modality") === "image")
      .select(col("asset_id"), mm_header_parse(col("payload")).as("p"))
      .select(col("asset_id"),
        col("p.width").as("width"), col("p.height").as("height"))
      .withColumn("max_side", greatest(col("width"), col("height")))
      .withColumn("out_w",
        when(col("max_side") <= ResizeMaxSide, col("width"))
          .otherwise(greatest(lit(1L),
            expr(s"(width * $ResizeMaxSide) DIV max_side"))))
      .withColumn("out_h",
        when(col("max_side") <= ResizeMaxSide, col("height"))
          .otherwise(greatest(lit(1L),
            expr(s"(height * $ResizeMaxSide) DIV max_side"))))
      .withColumn("scaled", col("max_side") > ResizeMaxSide)
      .repartition(col("asset_id"))
      .orderBy("asset_id")
  }

  /** Frame-sampling budget: at most this many frames per video. */
  val MaxFrames = 16L

  /** One planned frame fetch, derived entirely from the PARSED MP4
    * sample tables: `sample_idx` is the stts-ordered sample the frame
    * maps to, `t_ms` its decoding timestamp (mdhd timescale converted),
    * `byte_offset`/`sample_bytes` the exact stco/stsc/stsz extent a
    * ranged GET would read. */
  case class FrameRow(asset_id: Long, n_samples: Long, n_frames: Long,
      frame_idx: Long, sample_idx: Long, t_ms: Long, byte_offset: Long,
      sample_bytes: Long)

  /** Per-partition frame planning: parse the box tree once per payload,
    * select ≤[[MaxFrames]] uniformly-strided samples from the table.
    * A malformed tree or an empty/zero-timescale table emits NOTHING —
    * the quarantine contract (corrupt bytes cost one pass, not a row of
    * fabricated offsets). */
  private def frameBatch(batch: Iterator[Asset]): Iterator[FrameRow] =
    batch.flatMap { a =>
      org.apache.spark.sql.graftext.Mp4Boxes.parse(a.payload) match {
        case Some(t) if t.nSamples > 0 && t.timescale > 0 =>
          val n = t.nSamples
          val nf = math.min(MaxFrames, n.toLong)
          (0L until nf).iterator.map { i =>
            val s = ((i * n) / nf).toInt // uniform stride over the table
            FrameRow(a.asset_id, n.toLong, nf, i, s.toLong,
              t.timesTs(s) * 1000L / t.timescale, t.offsets(s), t.sizes(s))
          }
        case _ => Iterator.empty
      }
    }

  /** The typed frame plan shared by [[framePlan]] and [[fetchPlan]] —
    * one payload-bearing scan, never two. */
  private def frameFrame(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    assets(spark, dir).where(col("modality") === "video").as[Asset]
      .mapPartitions(frameBatch).toDF()
  }

  /** FRAME-SAMPLE PLAN for video assets: which samples to fetch
    * (uniform stride over the stts order, ≤[[MaxFrames]]) and the EXACT
    * byte extent of each — offset from stco + the stsz prefix within the
    * chunk, size from stsz, timestamp from stts/mdhd. At 100 TB frame
    * sampling is first an I/O plan (which byte ranges to GET from object
    * storage) before it is a decode, and an I/O plan is only as good as
    * its offsets: these come from the PARSED sample tables, not a
    * proportional approximation. Map-side mapPartitions over the asset
    * scan, ≤16 rows per asset; payload bytes are consumed where they
    * sit. The oracle re-reads delta/chunk-offset/sizes from the same hex
    * layout and replays the stride/prefix arithmetic in closed form. */
  def framePlan(spark: SparkSession, dir: String): DataFrame =
    frameFrame(spark, dir)
      .select(col("asset_id"), col("n_samples"), col("n_frames"),
        col("frame_idx"), col("sample_idx"), col("t_ms"),
        col("byte_offset"), col("sample_bytes"))
      .repartition(col("asset_id"))
      .orderBy("asset_id", "frame_idx")

  /** Manifest volume width: shards are scoped per (modality, volume =
    * asset_id DIV width), so the packing window never sorts more than one
    * volume on one task — the same per-scope parallelization as
    * PipelineOps.packSequences' per-shard windows. */
  val VolumeAssets = 100000L

  /** Shard manifest: assign every asset to a byte-budgeted output shard
    * and compute its offset within the shard — the WebDataset-style
    * tar-packing manifest a multimodal training pipeline materializes
    * before the (IO-bound) shard writer runs. Assignment is the
    * offset-bucket approximation also used by `q_pack_sequences`:
    * shard = floor(preceding-bytes / target), so a shard can overflow its
    * budget by at most one asset — in exchange the whole manifest is one
    * window pass (running sum of byte lengths per (modality, volume)),
    * deterministic, and engine-exact (pure integer arithmetic). */
  def shardManifest(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("modality", "volume").orderBy("asset_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    assets(spark, dir)
      .select(col("asset_id"), col("modality"),
        expr(s"asset_id DIV $VolumeAssets").as("volume"),
        length(col("payload")).cast("long").as("byte_len"))
      .withColumn("cum_before", coalesce(sum(col("byte_len")).over(w), lit(0L)))
      .select(col("asset_id"), col("modality"), col("volume"), col("byte_len"),
        expr(s"cum_before DIV $ShardBytes").as("shard_id"),
        expr(s"cum_before % $ShardBytes").as("offset_in_shard"))
      .orderBy("modality", "asset_id")
  }

  /** EXACT BINARY DEDUP over the asset payloads — the image-pipeline
    * standard (LAION/DataComp dedupe stage): hash the OPAQUE BYTES, group,
    * keep the lowest asset id, price the duplicate storage. Blocked by
    * modality (an image is never compared against an audio clip — the
    * same blocking-key role `source` plays in the text dedups). One
    * shuffle on (modality, md5(payload)) with map-side partial
    * aggregation; payload bytes never move — only their 16-byte digests
    * do, which is the whole reason this survives 100 TB of media.
    * `dup_bytes` = (n_copies−1) × byte_len (copies are byte-identical,
    * so one length prices them all): the bytes a dedup pass would free. */
  def assetDedup(spark: SparkSession, dir: String): DataFrame =
    // md5 over the payload's HEX image, not the raw bytes: DuckDB 1.0 has
    // only md5(VARCHAR), and the framed payload is no longer valid utf-8.
    // hex() is injective, so the dedup answer is identical; the
    // production path (x_mm_dedup_fast) still hashes the raw bytes.
    assetDedupWith(spark, dir, c => md5(hex(c)))

  /** The one dedup dataflow, parameterized by the fingerprint function —
    * the chunkScrubWith/minhashLshImpl pattern: a semantics change (the
    * pricing, the blocking key) can never half-apply to the md5/xxhash
    * pair. */
  private def assetDedupWith(spark: SparkSession, dir: String,
      fp: Column => Column): DataFrame =
    assets(spark, dir)
      .select(col("asset_id"), col("modality"),
        fp(col("payload")).as("payload_fp"),
        length(col("payload")).cast("long").as("byte_len"))
      .groupBy(col("modality"), col("payload_fp"))
      .agg(min(col("asset_id")).as("keep_id"),
        count(lit(1)).as("n_copies"),
        min(col("byte_len")).as("byte_len"))
      .select(col("modality"), col("payload_fp"), col("keep_id"),
        col("n_copies"),
        ((col("n_copies") - 1) * col("byte_len")).as("dup_bytes"))
      .orderBy("modality", "keep_id")

  /** Production path of [[assetDedup]]: xxhash64 instead of md5 — half
    * the digest bytes and a far cheaper non-cryptographic hash, the right
    * trade for non-adversarial corpus dedup at 100 TB (md5 stays in the
    * REGISTERED query because DuckDB has no xxhash64 to replay). Bench-
    * only (`x_mm_dedup_fast`); spec pins the group structure (keep_id,
    * n_copies, dup_bytes per modality) identical to the md5 form. */
  def assetDedupFast(spark: SparkSession, dir: String): DataFrame =
    assetDedupWith(spark, dir, c => xxhash64(c))

  /** DATASET CARD for the media corpus, per modality — the numbers a
    * multimodal training set publishes (and a curation pass reads before
    * deciding what to dedup): asset and distinct-payload counts, the
    * duplicate fraction, total stored bytes vs the bytes a dedup pass
    * would keep, and the total media duration. Two exact integer
    * aggregations (per-(modality, digest) rollup, then per modality);
    * `dup_frac` is one double division of two exact longs, so it is
    * bit-identical across engines. Scale shape: the same digest-grain
    * groupBy as [[assetDedup]] — payload bytes never shuffle. */
  def assetCard(spark: SparkSession, dir: String): DataFrame =
    assets(spark, dir)
      .select(col("modality"), md5(hex(col("payload"))).as("payload_fp"),
        length(col("payload")).cast("long").as("byte_len"),
        col("duration_ms"))
      .groupBy(col("modality"), col("payload_fp"))
      .agg(count(lit(1)).as("n_copies"),
        min(col("byte_len")).as("byte_len"),
        sum(col("duration_ms")).as("dur_sum"))
      .groupBy(col("modality"))
      .agg(sum(col("n_copies")).as("n_assets"),
        count(lit(1)).as("n_payloads"),
        sum(col("n_copies") * col("byte_len")).as("total_bytes"),
        sum(col("byte_len")).as("kept_bytes"),
        sum(col("dur_sum")).as("total_duration_ms"))
      .select(col("modality"), col("n_assets"), col("n_payloads"),
        (lit(1.0) - col("n_payloads").cast("double") /
          col("n_assets")).as("dup_frac"),
        col("total_bytes"),
        (col("total_bytes") - col("kept_bytes")).as("dup_bytes"),
        col("total_duration_ms"))
      .orderBy("modality")

  /** Spectrogram window geometry (Whisper-style 25 ms frames scale to a
    * 400 ms window / 160 ms hop at this corpus's ms grain). */
  val WinMs = 400L
  val HopMs = 160L
  /** Per-asset window cap — long audio is CHUNKED in real pipelines
    * (Whisper's 30 s segments); the cap bounds the explode fan-out the
    * same way MaxFrames bounds the video plan. */
  val MaxWindows = 64L

  /** WINDOW PLAN for audio assets: which (start, end) ms slices feed the
    * spectrogram/encoder — the audio twin of [[framePlan]], with OVERLAP
    * (hop < window, the STFT shape) where frames are point samples.
    * Short clips (< one window) still get one zero-padded window; the
    * explode fans out ≤ [[MaxWindows]] rows per asset. All integer
    * arithmetic, engine-replayable; map-side over the asset scan. The
    * DECODED per-window statistics live in [[audioEnergy]], which
    * windows the actual PCM samples. */
  def windowPlan(spark: SparkSession, dir: String): DataFrame =
    assets(spark, dir).where(col("modality") === "audio")
      .select(col("asset_id"), col("duration_ms"))
      .withColumn("n_windows",
        expr(s"""CASE WHEN duration_ms >= $WinMs
                 THEN least($MaxWindows, (duration_ms - $WinMs) DIV $HopMs + 1)
                 ELSE 1 END"""))
      .withColumn("win_idx", explode(sequence(lit(0L), col("n_windows") - 1)))
      .withColumn("start_ms", expr(s"win_idx * $HopMs"))
      .withColumn("end_ms", expr(s"least(start_ms + $WinMs, duration_ms)"))
      .select(col("asset_id"), col("n_windows"), col("win_idx"),
        col("start_ms"), col("end_ms"))
      .orderBy("asset_id", "win_idx")

  /** One keyframe-snapped seek: `sample_idx` is the uniform target,
    * `key_idx` the stss sync sample the decoder must START at (the
    * latest sync at or before the target — an inter-frame can't decode
    * without its preceding I-frame — or the FIRST sync when the target
    * precedes every keyframe: players substitute the earliest decodable
    * frame), `key_offset` that sync sample's exact byte position,
    * `back_samples` the decode run-up the snap costs (NEGATIVE when the
    * first keyframe substituted a too-early target). */
  case class KeyframeRow(asset_id: Long, n_frames: Long, frame_idx: Long,
      sample_idx: Long, key_idx: Long, key_offset: Long, back_samples: Long)

  private def keyframeBatch(batch: Iterator[Asset]): Iterator[KeyframeRow] =
    batch.flatMap { a =>
      org.apache.spark.sql.graftext.Mp4Boxes.parse(a.payload) match {
        case Some(t) if t.nSamples > 0 && t.timescale > 0 =>
          val n = t.nSamples
          val nf = math.min(MaxFrames, n.toLong)
          (0L until nf).iterator.flatMap { i =>
            val s = ((i * n) / nf).toInt
            val k = t.syncBefore(s)
            // k < 0 = a PRESENT-but-empty stss: the file declares no
            // sample decodable — quarantine the seek, never fabricate
            if (k < 0) None
            else Some(KeyframeRow(a.asset_id, nf, i, s.toLong, k.toLong,
              t.offsets(k), (s - k).toLong))
          }
        case _ => Iterator.empty
      }
    }

  /** KEYFRAME-SNAPPED SEEK PLAN — the decode-dependency-aware form of
    * [[framePlan]]: a video decoder cannot start at an arbitrary sample
    * (inter-frames reference their preceding I-frame), so each uniform
    * target snaps BACK to the latest `stss` sync sample and the fetch
    * begins at THAT sample's stco/stsz byte position, paying
    * `back_samples` of run-up decode — exactly how production frame
    * extractors seek. Files without an stss box are all-sync per the
    * ISO spec (every sample is its own keyframe — the single-chunk
    * fixture arm), while the two-chunk fixtures carry stss = {1, n/2+1}
    * so both snap directions are gate-exercised. Same map-side
    * mapPartitions shape as the frame plan; the oracle replays the snap
    * and the sync sample's offset arithmetic in closed form. */
  def keyframePlan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    assets(spark, dir).where(col("modality") === "video").as[Asset]
      .mapPartitions(keyframeBatch).toDF()
      .select(col("asset_id"), col("n_frames"), col("frame_idx"),
        col("sample_idx"), col("key_idx"), col("key_offset"),
        col("back_samples"))
      .repartition(col("asset_id"))
      .orderBy("asset_id", "frame_idx")
  }

  /** One DECODED video frame off the keyframe-snapped seek plan:
    * the sync sample at `key_idx` pulled from its exact stco/stsz byte
    * extent and entropy-decoded through the JDK JPEG codec — integer
    * pixel stats (null-quarantined when the extent is not a decodable
    * JPEG), so the walker's I/O plan is now an end-to-end video decode. */
  case class VFrameRow(asset_id: Long, n_frames: Long, frame_idx: Long,
      sample_idx: Long, key_idx: Long, width: Option[Long],
      height: Option[Long], n_px: Option[Long], px_min: Option[Long],
      px_max: Option[Long], px_sum: Option[Long])

  private def vframeBatch(batch: Iterator[Asset]): Iterator[VFrameRow] = {
    javax.imageio.ImageIO.setUseCache(false) // per-partition codec init
    // partition-local payload cache (the decodeBatch discipline):
    // identical containers plan and decode identically, so replica
    // copies rebuild rows from the cached plan with their own asset id
    val seen = scala.collection.mutable.HashMap.empty[String, Array[VFrameRow]]
    batch.flatMap { a =>
      val rows = seen.getOrElseUpdate(rawKey(a.payload), {
        org.apache.spark.sql.graftext.Mp4Boxes.parse(a.payload) match {
          case Some(t) if t.nSamples > 0 && t.timescale > 0 =>
            val n = t.nSamples
            val nf = math.min(MaxFrames, n.toLong)
            // several uniform targets can snap to the SAME sync sample
            // (the two-chunk stss has only 2) — decode each key once
            val cache = scala.collection.mutable.HashMap.empty[Int, Option[(Long, Long, Stats)]]
            (0L until nf).iterator.flatMap { i =>
              val s = ((i * n) / nf).toInt
              val k = t.syncBefore(s)
              if (k < 0) None // present-but-empty stss: nothing decodable
              else {
                val dec = cache.getOrElseUpdate(k, {
                  val img = readJpeg(a.payload, t.offsets(k).toInt, t.sizes(k).toInt)
                  if (img == null) None
                  else {
                    val st = new Stats
                    addRaster(img, st)
                    Some((img.getWidth.toLong, img.getHeight.toLong, st))
                  }
                })
                Some(dec match {
                  case Some((w, h, st)) => VFrameRow(a.asset_id, nf, i, s.toLong,
                    k.toLong, Some(w), Some(h), Some(st.n), Some(st.mn),
                    Some(st.mx), Some(st.sum))
                  case None => VFrameRow(a.asset_id, nf, i, s.toLong, k.toLong,
                    None, None, None, None, None, None)
                })
              }
            }.toArray
          case _ => Array.empty[VFrameRow]
        }
      })
      if (rows.nonEmpty && rows(0).asset_id == a.asset_id) rows.iterator
      else rows.iterator.map(_.copy(asset_id = a.asset_id))
    }
  }

  /** DECODED FRAME REPORT — [[keyframePlan]] carried through the codec:
    * for each uniform target, the snapped sync sample's REAL pixels
    * (width/height from the decoded raster, exact integer min/max/sum)
    * via a per-sample javax.imageio JPEG decode of the stco/stsz byte
    * extent. This is the full video path a training pipeline runs —
    * parse tables → plan seeks → ranged read → decode I-frame — and the
    * oracle replays the expected statistics ARITHMETICALLY from the
    * Motion-JPEG generators (constant-gray frames: n_px = w·h, sum =
    * w·h·v), so the codec output is checked against independent math.
    * Map-side mapPartitions over the video scan, ≤[[MaxFrames]] rows
    * per asset, one decode per DISTINCT sync sample. */
  def videoFrames(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    assets(spark, dir).where(col("modality") === "video").as[Asset]
      .mapPartitions(vframeBatch).toDF()
      .select(col("asset_id"), col("n_frames"), col("frame_idx"),
        col("sample_idx"), col("key_idx"), col("width"), col("height"),
        col("n_px"), col("px_min"), col("px_max"), col("px_sum"))
      .repartition(col("asset_id"))
      .orderBy("asset_id", "frame_idx")
  }

  /** One decoded sample's content descriptor — the video-dedup signature
    * input (decoded raster geometry + integer pixel sum), tagged with the
    * payload digest so fp-grain voting and the byte-equality flag need no
    * second payload-bearing scan (each extra reference to the synthesized
    * asset frame re-expands its hex-chain expression tree in the
    * optimizer — five references measurably hang planning). */
  private[operators] case class VSampleRow(asset_id: Long, fp: String,
      sample_idx: Long, width: Long, height: Long, px_sum: Long, n_px: Long)

  /** md5 of the payload's UPPERCASE-hex image — byte-for-byte what the
    * SQL `md5(hex(payload))` fingerprint computes, so the in-JVM tag and
    * the oracle's `md5(phx)` agree character-for-character. */
  private def hexFp(b: Array[Byte]): String = {
    val hexChars = "0123456789ABCDEF".toCharArray
    val sb = new java.lang.StringBuilder(b.length * 2)
    var i = 0
    while (i < b.length) {
      val v = b(i) & 0xFF
      sb.append(hexChars(v >>> 4)).append(hexChars(v & 0xF))
      i += 1
    }
    val dig = java.security.MessageDigest.getInstance("MD5")
      .digest(sb.toString.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    dig.map("%02x".format(_)).mkString
  }

  private def vsampleBatch(batch: Iterator[Asset]): Iterator[VSampleRow] = {
    javax.imageio.ImageIO.setUseCache(false) // per-partition codec init
    // partition-local decode cache: a payload copy seen again in this
    // partition reuses its descriptors (identical bytes decode
    // identically) — cross-partition copies re-decode but their
    // identical vote multisets cannot change any fp-grain majority
    val seen = scala.collection.mutable.HashMap.empty[String, Array[(Long, Long, Long, Long, Long)]]
    batch.flatMap { a =>
      val fp = hexFp(a.payload)
      val rows = seen.getOrElseUpdate(fp, {
        org.apache.spark.sql.graftext.Mp4Boxes.parse(a.payload) match {
          case Some(t) if t.nSamples > 0 =>
            (0 until t.nSamples).iterator.flatMap { k =>
              val img = readJpeg(a.payload, t.offsets(k).toInt, t.sizes(k).toInt)
              if (img == null) None // undecodable sample: no descriptor
              else {
                val st = new Stats
                addRaster(img, st)
                Some((k.toLong, img.getWidth.toLong, img.getHeight.toLong,
                  st.sum, st.n))
              }
            }.toArray
          case _ => Array.empty[(Long, Long, Long, Long, Long)]
        }
      })
      rows.iterator.map { case (k, w, h, sum, n) =>
        VSampleRow(a.asset_id, fp, k, w, h, sum, n)
      }
    }
  }

  /** VIDEO PERCEPTUAL DEDUP: near-duplicate videos by DECODED-CONTENT
    * signature, catching re-encoded/re-containered copies that exact
    * byte dedup ([[assetDedup]]) misses — same frames, different
    * container bytes (chunking, sync tables, slack) hash to the same
    * signature here and to different payload digests there.
    *
    * Signature: every sample decodes to a per-frame content descriptor
    * (width:height:mean-gray of the REAL decoded raster — for DC-only
    * frames the exact invariant content; an aHash would be all-zero on
    * any constant frame and discriminate nothing), each descriptor
    * md5-hashes to 63 bits, and the video's signature is the SimHash
    * bit-vote over its frame-hash multiset — videos sharing most frames
    * land Hamming-close, so trims and re-encodes both surface. Pairs
    * come from the same Manku 20-table blocking as the text SimHash
    * family (never all-pairs).
    *
    * Scale shape: the decode (the expensive stage) runs ONCE PER
    * DISTINCT payload — representatives are chosen at digest grain and
    * signatures expand back over the fingerprint join, so a replica
    * corpus pays decode at distinct-content size (the round-11
    * content-grain discipline). The oracle replays descriptors,
    * bit-votes, and the Hamming filter in closed form over ALL pairs —
    * blocking-agnostic, so the blocked candidate generation is checked
    * against complete enumeration. */
  def videoDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // ONE payload-bearing scan: decode (partition-cached per distinct
    // payload) and tag every descriptor with the payload digest. The
    // cached frame is descriptor-small (a handful of longs + the fp per
    // sample) — payload bytes never shuffle and never re-materialize.
    val samples = assets(spark, dir).where(col("modality") === "video")
      .as[Asset].mapPartitions(vsampleBatch).toDF().cache()
    val hcol = md5(concat_ws(":", col("width").cast("string"),
      col("height").cast("string"),
      expr("px_sum DIV n_px").cast("string")))
    val hi = conv(substring(hcol, 1, 8), 16, 10).cast("long")
    val lo = conv(substring(hcol, 9, 8), 16, 10).cast("long")
    // hi fills bits 31..62, lo>>1 bits 0..30 — disjoint, unbiased (the
    // simhashPortableSig combine)
    val hs = samples.select(col("fp"),
      shiftleft(hi, 31).bitwiseOR(shiftright(lo, 1)).as("h"))
    val bitSums = (0 until 63).map { i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1L) === 1L, 1)
        .otherwise(-1)).as(s"b$i")
    }
    val sigExpr = (0 until 63).map { i =>
      when(col(s"b$i") > 0, lit(1L << i)).otherwise(0L)
    }.reduce(_ + _)
    // signature votes at DISTINCT-PAYLOAD grain: copies contribute
    // identical multisets, which scale every bit vote uniformly and can
    // never flip a majority — so the fp-grain signature IS the per-copy
    // signature, computed once per distinct payload
    val sigByFp = hs.groupBy("fp").agg(bitSums.head, bitSums.tail: _*)
      .select(col("fp"), sigExpr.as("vsig"))
    val fps = samples.select("asset_id", "fp").distinct()
    // cached (r17 opt): hammingPairsGrouped reads its signature frame
    // five ways (the distinct-signature self-join side plus the four
    // doc-list expansion references) and the fa/fb joins below read it
    // twice more — uncached, EACH reference re-ran the distinct + the
    // 63-vote aggregation + the join (the same "cache the signature
    // frame before the Manku blocking" discipline every other
    // hammingPairsGrouped caller already follows). Asset-grain rows
    // (fp, asset_id, 1 long) — replication cannot grow it past the
    // catalog's asset count.
    val perAsset = fps.join(sigByFp, Seq("fp")).cache()
    val pairs = DedupOps.hammingPairsGrouped(
      perAsset.select(col("asset_id").as("doc_id"), col("vsig").as("simhash")))
    pairs
      .join(perAsset.select(col("asset_id").as("doc_a"), col("fp").as("fa")), Seq("doc_a"))
      .join(perAsset.select(col("asset_id").as("doc_b"), col("fp").as("fb")), Seq("doc_b"))
      .select(col("doc_a").as("asset_a"), col("doc_b").as("asset_b"),
        col("hamming").cast("long").as("hamming"),
        (col("fa") === col("fb")).as("same_bytes"))
      .orderBy("asset_a", "asset_b")
  }

  /** Gap under which two sample fetches coalesce into one object-store
    * GET (paying ≤ gap wasted bytes to save a round trip). */
  val CoalesceGap = 512L

  /** FETCH PLAN: coalesce [[framePlan]]'s per-sample byte ranges into
    * object-store GET requests — at 100 TB, frame sampling is an I/O
    * problem before it is a decode problem, and issuing one ranged GET
    * per frame (16 per video) would 16× the request bill for bytes that
    * are usually adjacent. Each frame's range is its sample's REAL
    * extent [offset, offset + stsz size); ranges merge when the next
    * start is within [[CoalesceGap]] of the previous end — so a short
    * clip (every sample selected, extents back-to-back in the chunk)
    * collapses to ONE GET, while a long clip whose stride skips more
    * than the gap's worth of samples pays one GET per frame. The classic
    * vectored-IO trade, now priced off the actual tables. Ranges build
    * in BYTE-OFFSET order (frame_idx as the tiebreak), not frame order:
    * ISO BMFF does not require stco chunk offsets to ascend, and a legal
    * out-of-order-chunk file under frame order would interleave ranges
    * whose max(end)−min(start) io_bytes over-counts — sorting by offset
    * makes coalescing correct for ANY chunk layout (the fixtures are
    * monotone, where the two orders coincide). One lag() flags range
    * starts and a running sum numbers them: two window passes + one
    * groupBy, ALL partitioned by asset — no global shuffle beyond the
    * hash on asset_id. */
  def fetchPlan(spark: SparkSession, dir: String): DataFrame =
    fetchRanges(spark, dir)
      .select(col("asset_id"), col("range_id"), col("range_start"),
        col("range_end"), col("n_frames"), col("io_bytes"))
      .orderBy("asset_id", "range_id")

  /** The coalesced GET ranges (pre-contract-sort, keeping the per-range
    * useful-byte sum) — shared by [[fetchPlan]] and [[fetchStats]]. */
  private def fetchRanges(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byIdx = Window.partitionBy("asset_id")
      .orderBy("byte_offset", "frame_idx")
    val ranges = frameFrame(spark, dir)
      .select(col("asset_id"), col("frame_idx"), col("byte_offset"),
        col("sample_bytes"),
        (col("byte_offset") + col("sample_bytes")).as("byte_end"))
      .withColumn("prev_end", lag(col("byte_end"), 1).over(byIdx))
      .withColumn("new_range",
        when(col("prev_end").isNull ||
          col("byte_offset") > col("prev_end") + CoalesceGap, 1L)
          .otherwise(0L))
      .withColumn("range_id", sum(col("new_range")).over(
        byIdx.rowsBetween(Window.unboundedPreceding, Window.currentRow)) - 1)
    ranges.groupBy("asset_id", "range_id")
      .agg(min(col("byte_offset")).as("range_start"),
        max(col("byte_end")).as("range_end"),
        count(lit(1)).as("n_frames"),
        // selected samples are distinct, so their extents are disjoint:
        // the sum IS the covered bytes, no overlap correction needed
        sum(col("sample_bytes")).as("useful_bytes"))
      .withColumn("io_bytes", col("range_end") - col("range_start"))
  }

  /** FETCH-PLAN ECONOMICS — the one-row bill the coalescing trade
    * produces: how many ranged GETs the corpus costs, the bytes they
    * move, how many of those bytes are the samples themselves vs
    * coalescing gap waste, and the request rate per video. THE number
    * an I/O planner tunes [[CoalesceGap]] against at 100 TB (requests
    * bill down ⇄ wasted bytes up). All exact longs + two double
    * divisions of exact longs; one map-side-partial global aggregate
    * over the range frame. */
  def fetchStats(spark: SparkSession, dir: String): DataFrame =
    fetchRanges(spark, dir)
      .agg(count_distinct(col("asset_id")).as("n_videos"),
        count(lit(1)).as("n_requests"),
        sum(col("n_frames")).as("n_frames"),
        sum(col("io_bytes")).as("io_bytes"),
        sum(col("useful_bytes")).as("useful_bytes"))
      .select(col("n_videos"), col("n_requests"), col("n_frames"),
        col("io_bytes"), col("useful_bytes"),
        (col("io_bytes") - col("useful_bytes")).as("waste_bytes"),
        // explicit zero-denominator guards: an empty corpus must emit
        // null rates identically on both engines, not engine-specific
        // divide-by-zero behavior
        when(col("n_videos") > 0,
          col("n_requests").cast("double") / col("n_videos"))
          .as("requests_per_video"),
        when(col("io_bytes") > 0,
          col("useful_bytes").cast("double") / col("io_bytes"))
          .as("io_efficiency"))

  /** ASSET VALIDATION REPORT — the QA pass a media pipeline runs between
    * ingest and decode, built entirely on the header PROBE: per modality,
    * how many assets (a) carry the format their modality claims, (b) have
    * header FIELDS agreeing with the catalog metadata (PNG/JPEG dims, WAV
    * sample rate, MP4 mdhd duration), (c) have a self-consistent size
    * story (parsed body bytes + header == stored bytes — for WAV that
    * checks the data-size FIELD against reality; for MP4 that the stsz
    * sample table FITS in mdat, with the uncovered editing-slack bytes
    * reported as n_slack_bytes), and how many trip the
    * decode-budget flags (clips shorter than one STFT window; videos
    * whose PARSED sample table exceeds the frame cap). Map-side flags +
    * one small groupBy: nothing but booleans shuffle. */
  def assetValidate(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftext.MediaColumns.mm_header_parse
    // header size by PARSED format (image splits across png/jpeg); MP4
    // has no constant header — its size story is table-vs-mdat below
    val hdrLen = typedlit(Map(
      "png" -> PngHeaderBytes, "jpeg" -> JpegHeaderBytes,
      "wav" -> WavHeaderBytes))
    val flags = assets(spark, dir)
      .select(col("asset_id"), col("modality"),
        length(col("payload")).cast("long").as("byte_len"),
        col("width"), col("height"), col("sample_rate"), col("duration_ms"),
        mm_header_parse(col("payload")).as("p"))
      .select(col("modality"),
        // the format each asset SHOULD carry: image ids split across
        // png (even image ids) and jpeg (odd), audio wav, video mp4
        (col("p.format") ===
          when(col("modality") === "image",
            when(col("asset_id") % 6 === 0, "png").otherwise("jpeg"))
          .when(col("modality") === "audio", lit("wav"))
          .otherwise(lit("mp4"))).as("format_ok"),
        when(col("modality") === "image",
            col("p.width") === col("width") &&
            col("p.height") === col("height"))
          .when(col("modality") === "audio",
            col("p.sample_rate") === col("sample_rate"))
          // video: the mdhd duration (timescale-converted by the probe)
          // must match the catalog duration
          .otherwise(col("p.media_ms") === col("duration_ms")).as("fields_ok"),
        when(col("p.format") === "mp4",
            // the stsz table must FIT in mdat (real muxers leave editing
            // slack mdat bytes no table covers, so ≤, not ==; a lying
            // table claiming more media than exists fails here, and the
            // uncovered bytes are REPORTED as n_slack_bytes below)
            col("p.table_bytes") <= col("p.body_bytes"))
          .otherwise(col("p.body_bytes") + element_at(hdrLen, col("p.format"))
            === col("byte_len")).as("size_ok"),
        // clamped at 0: a LYING table (claiming more media than mdat
        // holds) already fails size_ok — its negative difference must
        // not cancel healthy files' real slack in the modality total
        when(col("p.format") === "mp4",
          greatest(lit(0L), col("p.body_bytes") - col("p.table_bytes")))
          .otherwise(0L).as("slack_bytes"),
        (col("modality") === "audio" && col("duration_ms") < WinMs)
          .as("short_clip"),
        (col("modality") === "video" &&
          col("p.n_samples") > MaxFrames).as("over_cap"))
    flags.groupBy("modality")
      .agg(count(lit(1)).as("n_assets"),
        sum(when(col("format_ok"), 1L).otherwise(0L)).as("n_format_ok"),
        sum(when(col("fields_ok"), 1L).otherwise(0L)).as("n_fields_ok"),
        sum(when(col("size_ok"), 1L).otherwise(0L)).as("n_size_ok"),
        sum(coalesce(col("slack_bytes"), lit(0L))).as("n_slack_bytes"),
        sum(when(col("short_clip"), 1L).otherwise(0L)).as("n_short_clips"),
        sum(when(col("over_cap"), 1L).otherwise(0L)).as("n_over_cap"))
      .orderBy("modality")
  }

  // ------------------------------------------------------------ registry
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_mm_parse" -> (headerParse _),
    "q_mm_validate" -> (assetValidate _),
    "q_mm_meta" -> (assetMeta _),
    "q_mm_decode" -> (decodeReport _),
    "q_mm_features" -> (featureStats _),
    "q_mm_feature_ann" -> (featureAnn _),
    "q_mm_energy" -> (audioEnergy _),
    "q_mm_audio_fp" -> (audioFingerprint _),
    "q_mm_trim" -> (trimPlan _),
    "q_snap_decode" -> (snapshotDecode _),
    "q_mm_phash" -> (imageHashes _),
    "q_mm_phash_dedup" -> (phashDedup _),
    "q_mm_pack" -> (packMultimodal _),
    "q_mm_align" -> (crossModalAlign _),
    "q_mm_align_stats" -> (alignStats _),
    "q_mm_shards" -> (shardManifest _),
    "q_mm_resize" -> (resizePlan _),
    "q_mm_frames" -> (framePlan _),
    "q_mm_keyframes" -> (keyframePlan _),
    "q_mm_vframes" -> (videoFrames _),
    "q_mm_vdedup" -> (videoDedup _),
    "q_mm_dedup" -> (assetDedup _),
    "q_mm_card" -> (assetCard _),
    "q_mm_windows" -> (windowPlan _),
    "q_mm_fetch_plan" -> (fetchPlan _),
    "q_mm_fetch_stats" -> (fetchStats _),
  )

  /** The DuckDB image of the asset synthesis, GENERATED from the same
    * framing constants as [[assetsFrom]] — the oracle builds the payload
    * through the IDENTICAL hex chain (lpad∘hex for BE fields, the
    * 4-substr pair swap for LE, repeat() for the raster and the JPEG
    * scan, the same Adler-32 closed form), so `phx` is
    * character-for-character the hex of the Spark payload and every
    * downstream oracle (digest, PARSE, decode replay) reads the same
    * bytes. Exposed CTEs: `assets` (modality/meta/generators/phx) and
    * `a` (adds byte_len = header + body). */
  private lazy val AssetSqlCte: String = {
    def be(e: String) = s"lpad(hex($e), 8, '0')"
    def le(e: String) = {
      val h = be(e)
      s"substr($h,7,2)||substr($h,5,2)||substr($h,3,2)||substr($h,1,2)"
    }
    def le16(e: String) = {
      val h = s"lpad(hex($e), 4, '0')"
      s"substr($h,3,2)||substr($h,1,2)"
    }
    s"""ax AS (
         SELECT doc_id AS asset_id,
                CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                                ELSE 'video' END AS modality,
                CASE WHEN doc_id % 6 = 0 THEN n_chars % $PngMaxW + 1
                     ELSE n_chars % 640 + 1 END AS width,
                CASE WHEN doc_id % 6 = 0 THEN n_chars % $PngMaxH + 1
                     ELSE n_chars % 480 + 1 END AS height,
                CASE doc_id % 5 WHEN 0 THEN 16000 WHEN 1 THEN 22050
                     WHEN 2 THEN 24000 WHEN 3 THEN 44100
                     ELSE 48000 END AS rate,
                n_chars * 40 AS duration_ms,
                CAST(octet_length(encode(text)) AS BIGINT) AS body_len,
                hex(encode(text)) AS body_hex,
                upper(md5(text)) AS thash,
                ('0x' || substr(md5(text), 1, 2))::BIGINT AS v0,
                144 + ('0x' || substr(md5(text), 1, 1))::BIGINT AS vj
         FROM documents),
       px AS (
         SELECT *, height * (width + 1) AS r,
                ((width + 7) // 8) * ((height + 7) // 8) AS nmcu,
                duration_ms // 1000 + 1 AS nsmp,
                duration_ms // (duration_ms // 1000 + 1) AS sdelta,
                8 * (1 + v0 % 4) AS fwa,
                8 * (1 + (v0 // 4) % 4) AS fha,
                vj AS fva,
                8 * (1 + vj % 4) AS fwb,
                8 * (1 + (vj // 4) % 4) AS fhb,
                144 + v0 % 16 AS fvb
         FROM ax),
       pw AS (
         SELECT *, (fwa // 8) * (fha // 8) AS nma,
                (fwb // 8) * (fhb // 8) AS nmb,
                170 + (fwa // 8) * (fha // 8) AS sza,
                170 + (fwb // 8) * (fhb // 8) AS szb
         FROM px),
       pz AS (
         SELECT *,
                (nsmp // 2) * (sza + szb) + (nsmp % 2) * sza AS stotal,
                '$JpegApp0Hex' || '$JpegDqtHex' || '$JpegSof0PreHex'
                  || lpad(hex(fha), 4, '0') || lpad(hex(fwa), 4, '0')
                  || '$JpegSofCompHex' || '$JpegDhtDcHex' || '$JpegDhtAcHex'
                  || '$JpegSosHex'
                  || lpad(hex(32768 + (8 * (fva - 128)) * 16), 4, '0')
                  || repeat('00', nma - 1) || 'FFD9' AS jfa,
                '$JpegApp0Hex' || '$JpegDqtHex' || '$JpegSof0PreHex'
                  || lpad(hex(fhb), 4, '0') || lpad(hex(fwb), 4, '0')
                  || '$JpegSofCompHex' || '$JpegDhtDcHex' || '$JpegDhtAcHex'
                  || '$JpegSosHex'
                  || lpad(hex(32768 + (8 * (fvb - 128)) * 16), 4, '0')
                  || repeat('00', nmb - 1) || 'FFD9' AS jfb,
                (1 + width * v0 + (height - 1) * (width + 2)) % 65521 AS s1,
                (r + v0 * (width * r - (width * (width + 1)) // 2)
                   + 2 * ((height - 1) * r
                          - (width + 1) * ((height * (height - 1)) // 2))
                   + (width * ((height - 1) * r
                               - (width + 1) * ((height * (height - 1)) // 2))
                      - (height - 1) * ((width * (width + 1)) // 2)))
                  % 65521 AS s2
         FROM pw),
       assets AS (
         SELECT asset_id, modality, width, height, rate, duration_ms,
                body_len, body_hex, v0, vj, r, nmcu,
                nsmp, sdelta, sza, szb, stotal,
                fwa, fha, fva, fwb, fhb, fvb, nma, nmb,
                CASE WHEN modality = 'image' AND asset_id % 6 = 0 THEN
                       '$PngPreHex' || ${be("width")} || ${be("height")}
                       || '$PngPostHex'
                       || ${be("r + 11")} || '49444154'
                       || '780101' || ${le16("r")} || ${le16("65535 - r")}
                       || '00' || repeat(lpad(hex(v0), 2, '0'), width)
                       || repeat('02' || repeat('01', width), height - 1)
                       || lpad(hex(s2), 4, '0') || lpad(hex(s1), 4, '0')
                       || '0000000000000000' || '49454E44' || '00000000'
                     WHEN modality = 'image' THEN
                       '$JpegApp0Hex' || '$JpegDqtHex'
                       || '$JpegSof0PreHex' || lpad(hex(height), 4, '0')
                       || lpad(hex(width), 4, '0') || '$JpegSofCompHex'
                       || '$JpegDhtDcHex' || '$JpegDhtAcHex' || '$JpegSosHex'
                       || lpad(hex(32768 + (8 * (vj - 128)) * 16), 4, '0')
                       || repeat('00', nmcu - 1) || 'FFD9'
                     WHEN modality = 'audio' THEN
                       '52494646' || ${le("body_len + 36")} || '$WavStaticHex'
                       || ${le("rate")} || ${le("rate * 2")} || '$WavTailHex'
                       || ${le("body_len")} || body_hex
                     WHEN modality = 'video' AND asset_id % 6 = 5
                          AND nsmp >= 3 THEN
                       -- the TWO-CHUNK variant: 2 stsc runs, 2 stco
                       -- offsets, 4 dead slack bytes between the chunks
                       '$Mp4HeaderHex'
                       || ${be("248 + 4*nsmp")} || '6D6F6F76'
                       || '$Mp4FreeHex'
                       || ${be("196 + 4*nsmp")} || '7472616B'
                       || ${be("188 + 4*nsmp")} || '6D646961'
                       || '$Mp4MdhdPreHex' || ${be("duration_ms")} || '55C40000'
                       || ${be("148 + 4*nsmp")} || '6D696E66'
                       || ${be("140 + 4*nsmp")} || '7374626C'
                       || '000000187374747300000000' || '00000001'
                       || ${be("nsmp")} || ${be("sdelta")}
                       || '000000287374736300000000' || '00000002'
                       || '00000001' || '00000002' || '00000001' || '00000002'
                       || ${be("nsmp - 2")} || '00000001'
                       || ${be("20 + 4*nsmp")} || '7374737A' || '0000000000000000'
                       || ${be("nsmp")}
                       || repeat(${be("sza")} || ${be("szb")}, nsmp // 2)
                       || CASE WHEN nsmp % 2 = 1 THEN ${be("sza")} ELSE '' END
                       || '000000187374636F00000000' || '00000002'
                       || ${be("272 + 4*nsmp")}
                       || ${be("272 + 4*nsmp + sza + szb + 4")}
                       || '000000187374737300000000' || '00000002'
                       || '00000001' || ${be("nsmp // 2 + 1")}
                       || '$Mp4UdtaPreHex' || thash
                       || ${be("12 + stotal")} || '6D646174'
                       || jfa || jfb
                       || '5A5A5A5A'
                       || repeat(jfa || jfb, nsmp // 2 - 1)
                       || CASE WHEN nsmp % 2 = 1 THEN jfa ELSE '' END
                  ELSE
                       '$Mp4HeaderHex'
                       || ${be("208 + 4*nsmp")} || '6D6F6F76'
                       || '$Mp4FreeHex'
                       || ${be("156 + 4*nsmp")} || '7472616B'
                       || ${be("148 + 4*nsmp")} || '6D646961'
                       || '$Mp4MdhdPreHex' || ${be("duration_ms")} || '55C40000'
                       || ${be("108 + 4*nsmp")} || '6D696E66'
                       || ${be("100 + 4*nsmp")} || '7374626C'
                       || '000000187374747300000000' || '00000001'
                       || ${be("nsmp")} || ${be("sdelta")}
                       || '0000001C7374736300000000' || '00000001' || '00000001'
                       || ${be("nsmp")} || '00000001'
                       || ${be("20 + 4*nsmp")} || '7374737A' || '0000000000000000'
                       || ${be("nsmp")}
                       || repeat(${be("sza")} || ${be("szb")}, nsmp // 2)
                       || CASE WHEN nsmp % 2 = 1 THEN ${be("sza")} ELSE '' END
                       || '000000147374636F00000000' || '00000001'
                       || ${be("232 + 4*nsmp")}
                       || '$Mp4UdtaPreHex' || thash
                       || ${be("8 + stotal")} || '6D646174'
                       || repeat(jfa || jfb, nsmp // 2)
                       || CASE WHEN nsmp % 2 = 1 THEN jfa ELSE '' END
                END AS phx
         FROM pz),
       a AS (
         SELECT *, CAST(length(phx) // 2 AS BIGINT) AS byte_len,
                modality = 'video' AND asset_id % 6 = 5 AND nsmp >= 3 AS vb
         FROM assets)"""
  }

  /** Decode replay on top of [[AssetSqlCte]]: per-asset integer stats
    * computed ARITHMETICALLY from the generators — the PNG gradient's
    * run decomposition (at most one mod-256 wrap since h ≤ 192 < 256;
    * sums via arithmetic series, sums of squares via the square-pyramid
    * closed form m(m+1)(2m+1)/6, which is exact at m = −1 too), the
    * JPEG constant gray, the WAV PCM re-sliced from the payload hex
    * (LE16 sign-corrected), and the Motion-JPEG video (the frame
    * multiset is {A×⌈n/2⌉, B×⌊n/2⌋} of constant-gray w×h frames, so
    * every moment is a two-term closed form). Exposes `dstats`. */
  private lazy val DecodeSqlCte: String =
    s"""$AssetSqlCte,
       wavs AS (
         SELECT asset_id, count(*) AS n, min(sv) AS mn, max(sv) AS mx,
                CAST(sum(sv) AS BIGINT) AS s,
                CAST(sum(sv * sv) AS BIGINT) AS sq
         FROM (
           SELECT asset_id, CASE WHEN x >= 32768 THEN x - 65536 ELSE x END AS sv
           FROM (
             SELECT a.asset_id,
                    ('0x' || substr(body_hex, 4*u.k - 1, 2)
                          || substr(body_hex, 4*u.k - 3, 2))::BIGINT AS x
             FROM a, unnest(generate_series(1, body_len // 2)) AS u(k)
             WHERE modality = 'audio'))
         GROUP BY asset_id),
       d0 AS (
         SELECT *, least(height, 256 - v0) AS la,
                height - least(height, 256 - v0) AS lb
         FROM a),
       dstats AS (
         SELECT d0.asset_id, d0.modality, d0.byte_len, d0.width, d0.height,
                d0.rate, d0.duration_ms,
                CASE WHEN d0.modality = 'image' AND d0.asset_id % 6 = 0
                       THEN 'png'
                     WHEN d0.modality = 'image' THEN 'jpeg'
                     WHEN d0.modality = 'audio' THEN 'wav'
                     ELSE 'mp4' END AS format,
                CAST(CASE WHEN d0.modality = 'image' THEN width * height
                          WHEN d0.modality = 'audio' THEN coalesce(w.n, 0)
                          ELSE (nsmp - nsmp // 2) * fwa * fha
                               + (nsmp // 2) * fwb * fhb
                          END AS BIGINT) AS n_units,
                CAST(CASE WHEN d0.modality = 'image' AND d0.asset_id % 6 = 0
                            THEN CASE WHEN lb > 0 THEN 0 ELSE v0 END
                          WHEN d0.modality = 'image' THEN vj
                          WHEN d0.modality = 'audio' THEN w.mn
                          ELSE CASE WHEN nsmp >= 2 THEN least(fva, fvb)
                                    ELSE fva END
                     END AS BIGINT) AS u_min,
                CAST(CASE WHEN d0.modality = 'image' AND d0.asset_id % 6 = 0
                            THEN CASE WHEN lb > 0 THEN 255
                                      ELSE v0 + height - 1 END
                          WHEN d0.modality = 'image' THEN vj
                          WHEN d0.modality = 'audio' THEN w.mx
                          ELSE CASE WHEN nsmp >= 2 THEN greatest(fva, fvb)
                                    ELSE fva END
                     END AS BIGINT) AS u_max,
                CAST(CASE WHEN d0.modality = 'image' AND d0.asset_id % 6 = 0
                            THEN width * (la * v0 + (la * (la - 1)) // 2
                                          + (lb * (lb - 1)) // 2)
                          WHEN d0.modality = 'image'
                            THEN width * height * vj
                          WHEN d0.modality = 'audio' THEN w.s
                          ELSE (nsmp - nsmp // 2) * fwa * fha * fva
                               + (nsmp // 2) * fwb * fhb * fvb
                     END AS BIGINT) AS u_sum,
                CAST(CASE WHEN d0.modality = 'image' AND d0.asset_id % 6 = 0
                            THEN width *
                              (((v0 + la - 1) * (v0 + la) * (2*(v0 + la) - 1)) // 6
                               - ((v0 - 1) * v0 * (2*v0 - 1)) // 6
                               + ((lb - 1) * lb * (2*lb - 1)) // 6)
                          WHEN d0.modality = 'image'
                            THEN width * height * vj * vj
                          WHEN d0.modality = 'audio' THEN w.sq
                          ELSE (nsmp - nsmp // 2) * fwa * fha * fva * fva
                               + (nsmp // 2) * fwb * fhb * fvb * fvb
                     END AS BIGINT) AS u_sumsq
         FROM d0 LEFT JOIN wavs w ON w.asset_id = d0.asset_id)"""

  /** The 8 feature components as DuckDB expressions over `dstats` —
    * generated alongside [[featureCols]] so the two lists cannot drift
    * (same CASE arms, same left-associated division chains). */
  private def featureSqlComps: Seq[String] = {
    val img = "modality = 'image' AND n_units > 0"
    val aud = "modality = 'audio' AND n_units > 0"
    val vid = "modality = 'video' AND n_units > 0"
    def d(c: String) = s"CAST($c AS DOUBLE)"
    Seq(
      s"CASE WHEN $img THEN ${d("u_sum")}/n_units/255.0" +
        s" WHEN $aud THEN ${d("u_sum")}/n_units/32768.0" +
        s" WHEN $vid THEN ${d("u_sum")}/n_units/255.0" +
        s" ELSE ${d("byte_len")}/1000000.0 END",
      s"CASE WHEN $img THEN ${d("u_min")}/255.0" +
        s" WHEN $aud THEN ${d("u_sumsq")}/n_units/1073741824.0" +
        s" ELSE ${d("duration_ms")}/1000000.0 END",
      s"CASE WHEN $img THEN ${d("u_max")}/255.0" +
        s" WHEN $aud THEN ${d("u_min")}/32768.0" +
        s" WHEN $vid THEN ${d("u_min")}/255.0 ELSE 0.0 END",
      s"CASE WHEN $img THEN ${d("width")}/1024.0" +
        s" WHEN $aud THEN ${d("u_max")}/32768.0" +
        s" WHEN $vid THEN ${d("u_max")}/255.0 ELSE 0.0 END",
      s"CASE WHEN $img THEN ${d("height")}/1024.0" +
        s" WHEN $aud THEN ${d("n_units")}/1000000.0" +
        s" WHEN $vid THEN ${d("n_units")}/1000000.0 ELSE 0.0 END",
      s"CASE WHEN $img THEN ${d("n_units")}/1000000.0" +
        s" WHEN $aud THEN ${d("rate")}/48000.0" +
        s" WHEN $vid THEN ${d("byte_len")}/1000000.0 ELSE 0.0 END",
      s"CASE WHEN $img THEN ${d("u_sumsq")}/n_units/65025.0" +
        s" WHEN $aud THEN ${d("byte_len")}/1000000.0" +
        s" WHEN $vid THEN ${d("u_sumsq")}/n_units/65025.0 ELSE 0.0 END",
      "0.0")
  }

  /** DuckDB replay of [[featureAnn]] — the decoded feature vector,
    * float-cast, cosine-ranked within modality. */
  private lazy val FeatureAnnSql: String = {
    val fvList = featureSqlComps
      .map(c => s"CAST($c AS FLOAT)")
      .mkString("[", ",\n                  ", "]")
    s"""WITH $DecodeSqlCte,
         f AS (
           SELECT asset_id, modality,
                  $fvList AS v
           FROM dstats),
         q AS (
           SELECT asset_id AS query_id, modality AS q_mod, v AS qv
           FROM f WHERE asset_id < 10),
         s AS (
           SELECT q.query_id, f.asset_id AS neighbor_id,
                  list_cosine_similarity(CAST(q.qv AS DOUBLE[]),
                                         CAST(f.v AS DOUBLE[])) AS cos_sim
           FROM q JOIN f ON f.modality = q.q_mod AND f.asset_id != q.query_id)
         SELECT query_id, rank, neighbor_id FROM (
           SELECT *, row_number() OVER (
             PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
           FROM s)
         WHERE rank <= 3 ORDER BY query_id, rank"""
  }

  /** The PNG gradient's aHash, generated cell by cell from the same
    * 8×8 DIV grid as [[phashOf]] — block sums via the prefix closed
    * form G(m) = 32640·(m DIV 256) + r(r−1)/2 over (v0+y) mod 256,
    * bits via the identical cross-multiplied integer comparison.
    * Expects `width`, `height`, `v0` and `ptotal` in scope. */
  private lazy val PngPhashSqlExpr: String = {
    def g(m: String) =
      s"(32640*(($m) // 256) + ((($m) % 256) * ((($m) % 256) - 1)) // 2)"
    (0 until 8).map { gy =>
      val y0 = s"($gy*height)//8"; val y1 = s"(${gy + 1}*height)//8"
      val bits = (0 until 8).map { gx =>
        val x0 = s"($gx*width)//8"; val x1 = s"(${gx + 1}*width)//8"
        val cs = s"(($x1) - ($x0)) * (${g(s"v0 + ($y1)")} - ${g(s"v0 + ($y0)")})"
        val cp = s"((($x1) - ($x0)) * (($y1) - ($y0)))"
        s"CASE WHEN ($cs) * (width*height) > ptotal * $cp THEN ${1 << gx} ELSE 0 END"
      }.mkString("\n                    + ")
      s"lpad(hex($bits), 2, '0')"
    }.mkString("\n                || ")
  }

  /** Shared hash CTE for the two phash oracles: per image asset, the
    * arithmetic aHash (gradient closed form for PNG; a constant-gray
    * JPEG's cells all equal the global mean → all-zero). */
  private lazy val PhashSqlCte: String = {
    def g(m: String) =
      s"(32640*(($m) // 256) + ((($m) % 256) * ((($m) % 256) - 1)) // 2)"
    s"""im AS (
         SELECT asset_id, width, height, v0,
                CASE WHEN asset_id % 6 = 0 THEN 'png' ELSE 'jpeg' END AS format,
                width * (${g("v0 + height")} - ${g("v0")}) AS ptotal
         FROM a WHERE modality = 'image'),
       hs AS (
         SELECT asset_id, format,
                CASE WHEN format = 'png' THEN
                  $PngPhashSqlExpr
                ELSE '0000000000000000' END AS phash
         FROM im)"""
  }

  /** Shared window-energy chain for the two audio oracles: window spec,
    * LE16 sample re-slice, per-window integer sums — ends with
    * `j(asset_id, n_windows, win_idx, n_samples, energy, max_abs)`. */
  private lazy val EnergySqlCte: String =
    s"""au AS (
           SELECT asset_id, body_len // 2 AS n, body_hex
           FROM a WHERE modality = 'audio'),
         w AS (
           SELECT asset_id, n,
                  CASE WHEN n >= $EnergyWin
                       THEN least($MaxWindows, (n - $EnergyWin) // $EnergyHop + 1)
                       ELSE 1 END AS n_windows
           FROM au),
         wi AS (
           SELECT asset_id, n, CAST(n_windows AS BIGINT) AS n_windows,
                  CAST(u.i AS BIGINT) AS win_idx
           FROM w, unnest(generate_series(0, n_windows - 1)) AS u(i)),
         sm AS (
           SELECT asset_id, k,
                  CASE WHEN x >= 32768 THEN x - 65536 ELSE x END AS sv
           FROM (
             SELECT au.asset_id, CAST(u.k AS BIGINT) AS k,
                    ('0x' || substr(body_hex, 4*u.k - 1, 2)
                          || substr(body_hex, 4*u.k - 3, 2))::BIGINT AS x
             FROM au, unnest(generate_series(1, n)) AS u(k))),
         j AS (
           SELECT wi.asset_id, wi.n_windows, wi.win_idx,
                  CAST(count(sm.k) AS BIGINT) AS n_samples,
                  CAST(coalesce(sum(sm.sv * sm.sv), 0) AS BIGINT) AS energy,
                  coalesce(max(abs(sm.sv)), 0) AS max_abs
           FROM wi LEFT JOIN sm
             ON sm.asset_id = wi.asset_id
            AND sm.k > wi.win_idx * $EnergyHop
            AND sm.k <= wi.win_idx * $EnergyHop + $EnergyWin
           GROUP BY wi.asset_id, wi.n_windows, wi.win_idx)"""

  /** Shared align CTE chain (ends at `al`): the quantized feature vector
    * from the decode-replay arithmetic, the token histogram from the
    * q_hash_embed recipe, the same integer dot/norms and
    * cross-multiplied keep. Generated from [[featureSqlComps]] so the
    * quantization can't drift from the Spark component list. */
  private lazy val AlignCteSql: String = {
    val dims = 1 to FeatureDim
    val qCols = dims.map(k =>
      s"CAST(floor((${featureSqlComps(k - 1)}) * $AlignScale) AS BIGINT) AS q$k")
      .mkString(",\n                  ")
    val tCols = dims.map(k =>
      s"CAST(sum(CASE WHEN dim = ${k - 1} THEN 1 ELSE 0 END) AS BIGINT) AS t$k")
      .mkString(",\n                  ")
    val dot = dims.map(k => s"q$k*t$k").mkString(" + ")
    val n1 = dims.map(k => s"q$k*q$k").mkString(" + ")
    val n2 = dims.map(k => s"t$k*t$k").mkString(" + ")
    s"""WITH $DecodeSqlCte,
         q AS (
           SELECT asset_id, modality,
                  $qCols
           FROM dstats),
         bk AS (
           SELECT doc_id,
                  ('0x' || substr(md5(tok), 1, 8))::BIGINT % $FeatureDim AS dim
           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                 FROM documents)),
         t AS (
           SELECT doc_id,
                  $tCols
           FROM bk GROUP BY doc_id),
         j AS (
           SELECT q.asset_id, q.modality,
                  $dot AS dot, $n1 AS n1, $n2 AS n2
           FROM q JOIN t ON t.doc_id = q.asset_id),
         al AS (
           SELECT asset_id, modality, dot, n1, n2,
                  CASE WHEN n1 > 0 AND n2 > 0
                       THEN dot / sqrt(CAST(n1*n2 AS DOUBLE)) END AS align_cos,
                  dot > 0 AND dot*dot*${AlignTauDen * AlignTauDen}
                    >= ${AlignTauNum * AlignTauNum}*n1*n2 AS keep
           FROM j)"""
  }

  /** DuckDB replay of [[crossModalAlign]] over the shared align CTE. */
  private lazy val AlignSql: String =
    s"""$AlignCteSql
         SELECT asset_id, modality, dot, n1, n2, align_cos, keep
         FROM al ORDER BY asset_id"""

  /** DuckDB replay of [[alignStats]] — integer moments per modality. */
  private lazy val AlignStatsSql: String =
    s"""$AlignCteSql
         SELECT modality, count(*) AS n_pairs,
                CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_keep,
                CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE)
                  / count(*) AS keep_frac,
                CAST(sum(dot) AS BIGINT) AS dot_sum,
                min(dot) AS dot_min, max(dot) AS dot_max,
                CAST(sum(n1) AS BIGINT) AS n1_sum,
                CAST(sum(n2) AS BIGINT) AS n2_sum
         FROM al GROUP BY modality ORDER BY modality"""

  /** Shared wire-read video CTE chain (`v` → `g`) for the four video
    * seek/fetch oracles — ONE definition of the variant flag, the
    * wire-read stts delta / stsz count / chunk bases, and the uniform
    * frame stride, so a layout change can never half-apply across
    * q_mm_frames / q_mm_keyframes / q_mm_fetch_plan / q_mm_fetch_stats
    * (the AlignCteSql discipline). Ends with g(asset_id, n_frames,
    * frame_idx, s, nsmp, sza, szb, vb, delta_w, nsmp_w, chunk1_off,
    * chunk2_off). */
  private lazy val VideoFrameCteSql: String =
    s"""v AS (
           SELECT asset_id, nsmp, sza, szb, vb,
                  fwa, fha, fva, fwb, fhb, fvb,
                  CAST(least($MaxFrames, nsmp) AS BIGINT) AS n_frames,
                  ('0x' || substr(phx, 249, 8))::BIGINT AS delta_w,
                  ('0x' || substr(phx,
                    CASE WHEN vb THEN 369 ELSE 345 END, 8))::BIGINT AS nsmp_w,
                  ('0x' || substr(phx,
                    CASE WHEN vb THEN 409 ELSE 385 END + 8*nsmp,
                    8))::BIGINT AS chunk1_off,
                  CASE WHEN vb THEN
                    ('0x' || substr(phx, 417 + 8*nsmp, 8))::BIGINT
                  END AS chunk2_off
           FROM a WHERE modality = 'video'),
         g AS (
           SELECT asset_id, n_frames, CAST(u.i AS BIGINT) AS frame_idx,
                  CAST((u.i * nsmp) // n_frames AS BIGINT) AS s,
                  nsmp, sza, szb, vb, fwa, fha, fva, fwb, fhb, fvb,
                  delta_w, nsmp_w, chunk1_off, chunk2_off
           FROM v, unnest(generate_series(0, n_frames - 1)) AS u(i))"""

  /** The absolute byte offset of the sample indexed by `sExpr`, over
    * `g`'s columns: chunk 1 below sample 2; chunk 2 (wire-read base +
    * the alternating prefix MINUS chunk 1's two sizes) from there. */
  private def videoOffsetSql(sExpr: String): String =
    s"""CASE WHEN vb AND ($sExpr) >= 2 THEN
                  chunk2_off + (($sExpr) // 2) * (sza + szb)
                    + (($sExpr) % 2) * sza - (sza + szb)
                ELSE
                  chunk1_off + (($sExpr) // 2) * (sza + szb)
                    + (($sExpr) % 2) * sza
                END"""

  val oracleSql: Map[String, String] = Map(
    "q_mm_feature_ann" -> FeatureAnnSql,
    "q_mm_align" -> AlignSql,
    "q_mm_align_stats" -> AlignStatsSql,
    "q_mm_phash" ->
      s"""WITH $AssetSqlCte,
         $PhashSqlCte
         SELECT asset_id, format, phash FROM hs ORDER BY asset_id""",
    "q_mm_phash_dedup" ->
      s"""WITH $AssetSqlCte,
         $PhashSqlCte
         SELECT phash, min(asset_id) AS keep_id, count(*) AS n_members,
                CAST(count(DISTINCT format) AS BIGINT) AS n_formats
         FROM hs GROUP BY phash ORDER BY keep_id""",
    // decoded-stat replay: codec output (inflate / Huffman+IDCT / PCM)
    // vs independent generator arithmetic
    "q_mm_decode" ->
      s"""WITH $DecodeSqlCte
         SELECT asset_id, modality, format, byte_len, n_units, u_min, u_max,
                CASE WHEN n_units > 0
                     THEN CAST(u_sum AS DOUBLE) / n_units END AS u_mean,
                CASE WHEN n_units > 0
                     THEN CAST(u_sumsq AS DOUBLE) / n_units END AS u_ms
         FROM dstats ORDER BY asset_id""",
    "q_mm_features" ->
      s"""WITH $DecodeSqlCte
         SELECT asset_id, modality, CAST(byte_len AS INT) AS byte_len,
                ${featureSqlComps(0)} AS f0,
                ${featureSqlComps(1)} AS f1
         FROM dstats ORDER BY asset_id""",
    // per-window PCM energy: the same LE16 sample slices, window spec,
    // and integer sums — empty windows via the LEFT JOIN + coalesce
    "q_mm_energy" ->
      s"""WITH $AssetSqlCte,
         $EnergySqlCte
         SELECT asset_id, n_windows, win_idx, n_samples, energy,
                max_abs < $SilenceAbs AS silence
         FROM j ORDER BY asset_id, win_idx""",
    // incremental decode: ledger digests (id%10<8) anti-joined away,
    // digest-grain representatives decoded, stats from the same dstats
    // replay (identical payloads decode identically by construction)
    "q_snap_decode" ->
      s"""WITH $DecodeSqlCte,
         cfp AS (
           SELECT DISTINCT md5(phx) AS fp FROM a WHERE asset_id % 10 < 8),
         bb AS (
           SELECT md5(phx) AS fp, min(asset_id) AS asset_id,
                  count(*) AS n_batch_copies
           FROM a WHERE asset_id % 10 >= 8 GROUP BY md5(phx)),
         nw AS (
           SELECT bb.* FROM bb LEFT JOIN cfp ON bb.fp = cfp.fp
           WHERE cfp.fp IS NULL)
         SELECT nw.fp AS payload_fp, nw.asset_id, nw.n_batch_copies,
                d.modality, d.format, d.n_units, d.u_sum
         FROM nw JOIN dstats d ON d.asset_id = nw.asset_id
         ORDER BY nw.asset_id""",
    // silence-trim plan: the same per-window energies, min/max over the
    // loud windows, lead/tail trim arithmetic
    "q_mm_trim" ->
      s"""WITH $AssetSqlCte,
         $EnergySqlCte,
         l AS (
           SELECT asset_id, n_windows, win_idx,
                  max_abs >= $SilenceAbs AS loud
           FROM j),
         t AS (
           SELECT asset_id, max(n_windows) AS n_windows,
                  min(CASE WHEN loud THEN win_idx END) AS first_loud,
                  max(CASE WHEN loud THEN win_idx END) AS last_loud,
                  CAST(sum(CASE WHEN loud THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_loud
           FROM l GROUP BY asset_id)
         SELECT asset_id, n_windows, first_loud, last_loud, n_loud,
                coalesce(first_loud, n_windows) AS trim_lead,
                CASE WHEN last_loud IS NOT NULL
                     THEN n_windows - 1 - last_loud ELSE 0 END AS trim_tail,
                first_loud IS NOT NULL AS keep
         FROM t ORDER BY asset_id""",
    // energy-delta fingerprint: the same window energies, one lead()
    // per asset, LSB-first bit packing over the first AudioFpBits
    "q_mm_audio_fp" ->
      s"""WITH $AssetSqlCte,
         $EnergySqlCte,
         ld AS (
           SELECT asset_id, n_windows, win_idx, energy,
                  lead(energy) OVER (
                    PARTITION BY asset_id ORDER BY win_idx) AS nxt
           FROM j)
         SELECT asset_id, max(n_windows) AS n_windows,
                lpad(hex(CAST(coalesce(sum(
                  CASE WHEN win_idx < $AudioFpBits AND nxt > energy
                       THEN (CAST(1 AS BIGINT) << CAST(win_idx AS INT))
                       ELSE 0 END), 0) AS BIGINT)), 8, '0') AS afp
         FROM ld GROUP BY asset_id ORDER BY asset_id""",
    // interleaved image-text packing: same item union, per-volume
    // running sum, offset-bucket sequence ids, in-sequence positions
    "q_mm_pack" ->
      s"""WITH it AS (
           SELECT doc_id, 1 AS kord, 'text' AS kind, doc_id AS ref_id,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
           FROM documents
           UNION ALL
           SELECT doc_id, 0 AS kord, 'image' AS kind, doc_id AS ref_id,
                  CAST($ImageTokens AS BIGINT) AS n_toks
           FROM documents WHERE doc_id % 3 = 0),
         v AS (SELECT *, doc_id // $VolumeAssets AS volume FROM it),
         c AS (
           SELECT *, sum(n_toks) OVER (
                    PARTITION BY volume ORDER BY doc_id, kord
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM v),
         s AS (SELECT *, (cum - n_toks) // $SeqBudget AS seq_id FROM c)
         SELECT CAST(volume AS BIGINT) AS volume,
                CAST(seq_id AS BIGINT) AS seq_id,
                CAST(row_number() OVER (
                  PARTITION BY volume, seq_id ORDER BY doc_id, kord)
                  AS BIGINT) AS position,
                kind, ref_id, n_toks
         FROM s ORDER BY volume, seq_id, position""",
    // resize plan reads dims by PARSING them out of the constructed
    // blob's hex image (PNG IHDR BE u32s; JPEG SOF0 BE u16s at the
    // constructed layout's offsets — SOI+APP0+DQT put SOF0 at byte 89,
    // so marker/height/width live at hex chars 179/189/193) — both
    // engines read the same BYTES, then the same DIV/greatest/CASE
    "q_mm_resize" ->
      s"""WITH $AssetSqlCte,
         i AS (
           SELECT asset_id,
                  CASE WHEN substr(phx, 1, 4) = 'FFD8'
                       THEN ('0x' || substr(phx, 193, 4))::BIGINT
                       ELSE ('0x' || substr(phx, 33, 8))::BIGINT
                  END AS width,
                  CASE WHEN substr(phx, 1, 4) = 'FFD8'
                       THEN ('0x' || substr(phx, 189, 4))::BIGINT
                       ELSE ('0x' || substr(phx, 41, 8))::BIGINT
                  END AS height
           FROM a
           WHERE substr(phx, 1, 16) = '89504E470D0A1A0A'
              OR (substr(phx, 1, 4) = 'FFD8'
                  AND substr(phx, 179, 4) = 'FFC0')),
         m AS (SELECT *, greatest(width, height) AS max_side FROM i)
         SELECT asset_id, width, height, max_side,
                CASE WHEN max_side <= $ResizeMaxSide THEN width
                     ELSE greatest(1, (width * $ResizeMaxSide) // max_side)
                END AS out_w,
                CASE WHEN max_side <= $ResizeMaxSide THEN height
                     ELSE greatest(1, (height * $ResizeMaxSide) // max_side)
                END AS out_h,
                max_side > $ResizeMaxSide AS scaled
         FROM m ORDER BY asset_id""",
    // validation report: re-parse the blob's hex image, compare against
    // the catalog columns the synthesis wrote, aggregate the flags
    "q_mm_validate" ->
      s"""WITH $AssetSqlCte,
         p AS (
           SELECT *,
             substr(phx,1,16) = '89504E470D0A1A0A'
               AND length(phx) >= 66
               AND substr(phx,25,8) = '49484452' AS is_png,
             substr(phx,1,8) = '52494646'
               AND length(phx) >= 88
               AND substr(phx,17,8) = '57415645'
               AND substr(phx,25,8) = '666D7420' AS is_wav,
             length(phx) >= 32
               AND substr(phx,9,8) = '66747970'
               AND ('0x' || substr(phx,1,8))::BIGINT
                     BETWEEN 8 AND length(phx) // 2 AS is_mp4,
             substr(phx,1,4) = 'FFD8'
               AND length(phx) >= 196
               AND substr(phx,179,4) = 'FFC0' AS is_jpeg
           FROM a),
         f AS (
           SELECT modality,
             CASE WHEN is_png THEN 'png' WHEN is_wav THEN 'wav'
                  WHEN is_mp4 THEN 'mp4' WHEN is_jpeg THEN 'jpeg' END =
               CASE WHEN modality = 'image' AND asset_id % 6 = 0 THEN 'png'
                    WHEN modality = 'image' THEN 'jpeg'
                    WHEN modality = 'audio' THEN 'wav'
                    ELSE 'mp4' END AS format_ok,
             CASE WHEN modality = 'image' AND is_png THEN
                 ('0x' || substr(phx,33,8))::BIGINT = width
                 AND ('0x' || substr(phx,41,8))::BIGINT = height
               WHEN modality = 'image' THEN
                 is_jpeg
                 AND ('0x' || substr(phx,193,4))::BIGINT = width
                 AND ('0x' || substr(phx,189,4))::BIGINT = height
               WHEN modality = 'audio' THEN
                 ('0x' || substr(phx,55,2) || substr(phx,53,2)
                  || substr(phx,51,2) || substr(phx,49,2))::BIGINT = rate
               ELSE -- video: the mdhd duration (ticks×1000/timescale,
                    -- both read from the wire) must match the catalog
                 ('0x' || substr(phx,161,8))::BIGINT * 1000
                   // ('0x' || substr(phx,153,8))::BIGINT = duration_ms
               END AS fields_ok,
             CASE WHEN is_mp4 THEN
                 -- the stsz sample table (closed-form sum of the
                 -- alternating sizes) FITS in mdat (the size field read
                 -- from the wire, minus header); uncovered slack bytes
                 -- are reported, not failed
                 stotal <= ('0x' || substr(phx,
                   CASE WHEN vb THEN 529 ELSE 449 END + 8*nsmp, 8))::BIGINT - 8
               ELSE
                 CASE WHEN is_png THEN byte_len - $PngHeaderBytes
                      WHEN is_wav
                      THEN ('0x' || substr(phx,87,2) || substr(phx,85,2)
                            || substr(phx,83,2) || substr(phx,81,2))::BIGINT
                      WHEN is_jpeg THEN byte_len - $JpegHeaderBytes
                 END + CASE WHEN is_png THEN $PngHeaderBytes
                        WHEN is_jpeg THEN $JpegHeaderBytes
                        WHEN is_wav THEN $WavHeaderBytes END
                   = byte_len
               END AS size_ok,
             CASE WHEN is_mp4 THEN
                 greatest(0, ('0x' || substr(phx,
                   CASE WHEN vb THEN 529 ELSE 449 END + 8*nsmp, 8))::BIGINT
                   - 8 - stotal)
               ELSE 0 END AS slack_bytes,
             modality = 'audio' AND duration_ms < $WinMs AS short_clip,
             -- CASE, not AND: the stsz-count slice only exists in video
             -- payloads, and DuckDB's AND does not short-circuit the cast
             CASE WHEN modality = 'video'
                  THEN ('0x' || substr(phx,
                         CASE WHEN vb THEN 369 ELSE 345 END, 8))::BIGINT
                       > $MaxFrames
                  ELSE FALSE END AS over_cap
           FROM p)
         SELECT modality,
                count(*) AS n_assets,
                CAST(sum(CASE WHEN format_ok THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_format_ok,
                CAST(sum(CASE WHEN fields_ok THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_fields_ok,
                CAST(sum(CASE WHEN size_ok THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_size_ok,
                CAST(sum(slack_bytes) AS BIGINT) AS n_slack_bytes,
                CAST(sum(CASE WHEN short_clip THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_short_clips,
                CAST(sum(CASE WHEN over_cap THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_over_cap
         FROM f GROUP BY modality ORDER BY modality""",
    // header parse: the oracle re-parses the identically-constructed
    // blob from its hex image — format by magic, PNG BE u32 dims, WAV
    // LE u32 rate/data-size (the 4-substr pair swap), the MP4 box tree's
    // mdat size / stsz count / mdhd duration+timescale at the
    // constructed layout's (nsmp-dependent) offsets, and JPEG SOF0 BE
    // u16 dims — in the SAME precedence order as the native expression.
    // MP4 field positions in hex chars: mdhd timescale@153, duration@161
    // (bytes 76/80), stsz count@345 (byte 172), mdat size@449+8n (byte
    // 224+4n) — the box layout is ftyp(16) moov(208+4n) mdat(8+total)
    "q_mm_parse" ->
      s"""WITH $AssetSqlCte,
         p AS (
           SELECT *,
             substr(phx,1,16) = '89504E470D0A1A0A'
               AND length(phx) >= 66
               AND substr(phx,25,8) = '49484452' AS is_png,
             substr(phx,1,8) = '52494646'
               AND length(phx) >= 88
               AND substr(phx,17,8) = '57415645'
               AND substr(phx,25,8) = '666D7420' AS is_wav,
             length(phx) >= 32
               AND substr(phx,9,8) = '66747970'
               AND ('0x' || substr(phx,1,8))::BIGINT
                     BETWEEN 8 AND length(phx) // 2 AS is_mp4,
             substr(phx,1,4) = 'FFD8'
               AND length(phx) >= 196
               AND substr(phx,179,4) = 'FFC0' AS is_jpeg
           FROM a)
         SELECT asset_id, modality,
                CASE WHEN is_png THEN 'png' WHEN is_wav THEN 'wav'
                     WHEN is_mp4 THEN 'mp4'
                     WHEN is_jpeg THEN 'jpeg' END AS format,
                CASE WHEN is_png
                     THEN ('0x' || substr(phx,33,8))::BIGINT
                     WHEN is_jpeg
                     THEN ('0x' || substr(phx,193,4))::BIGINT END AS width,
                CASE WHEN is_png
                     THEN ('0x' || substr(phx,41,8))::BIGINT
                     WHEN is_jpeg
                     THEN ('0x' || substr(phx,189,4))::BIGINT END AS height,
                CASE WHEN is_wav
                     THEN ('0x' || substr(phx,55,2) || substr(phx,53,2)
                           || substr(phx,51,2) || substr(phx,49,2))::BIGINT
                END AS sample_rate,
                CASE WHEN is_png THEN byte_len - $PngHeaderBytes
                     WHEN is_wav
                     THEN ('0x' || substr(phx,87,2) || substr(phx,85,2)
                           || substr(phx,83,2) || substr(phx,81,2))::BIGINT
                     WHEN is_mp4
                     THEN ('0x' || substr(phx,
                            CASE WHEN vb THEN 529 ELSE 449 END + 8*nsmp,
                            8))::BIGINT - 8
                     WHEN is_jpeg THEN byte_len - $JpegHeaderBytes
                END AS body_bytes,
                CASE WHEN is_mp4
                     THEN ('0x' || substr(phx,
                            CASE WHEN vb THEN 369 ELSE 345 END, 8))::BIGINT
                END AS n_samples,
                CASE WHEN is_mp4
                     THEN ('0x' || substr(phx, 161, 8))::BIGINT * 1000
                          // ('0x' || substr(phx, 153, 8))::BIGINT
                END AS media_ms
         FROM p ORDER BY asset_id""",
    // sample-table frame plan: the scalar wire fields (stts delta at hex
    // char 249, stco chunk offset at 385+8n, stsz count at 345) are READ
    // from the constructed layout — proving the tables sit where the
    // walker reads them — while the per-sample prefix sums replay the
    // alternating-size closed form P(s) = (s DIV 2)(szA+szB) + (s%2)·szA,
    // independent of the walker's entry-by-entry accumulation
    "q_mm_frames" ->
      s"""WITH $AssetSqlCte,
         $VideoFrameCteSql
         SELECT asset_id, CAST(nsmp_w AS BIGINT) AS n_samples, n_frames,
                frame_idx, s AS sample_idx,
                s * delta_w AS t_ms,
                ${videoOffsetSql("s")} AS byte_offset,
                CAST(CASE WHEN s % 2 = 0 THEN sza ELSE szb END AS BIGINT)
                  AS sample_bytes
         FROM g ORDER BY asset_id, frame_idx""",
    // per-modality dataset card off the same digest-grain rollup as the
    // dedup; every emitted number is an exact long (or one double
    // division of two exact longs), BIGINT/DOUBLE-cast on both sides
    "q_mm_card" ->
      s"""WITH $AssetSqlCte,
         c AS (
           SELECT modality, md5(phx) AS payload_fp, byte_len, duration_ms
           FROM a),
         g AS (
           SELECT modality, payload_fp,
                  count(*) AS n_copies,
                  min(byte_len) AS byte_len,
                  CAST(sum(duration_ms) AS BIGINT) AS dur_sum
           FROM c GROUP BY modality, payload_fp)
         SELECT modality,
                CAST(sum(n_copies) AS BIGINT) AS n_assets,
                count(*) AS n_payloads,
                1.0 - CAST(count(*) AS DOUBLE) / CAST(sum(n_copies) AS DOUBLE)
                  AS dup_frac,
                CAST(sum(n_copies * byte_len) AS BIGINT) AS total_bytes,
                CAST(sum(n_copies * byte_len) - sum(byte_len) AS BIGINT)
                  AS dup_bytes,
                CAST(sum(dur_sum) AS BIGINT) AS total_duration_ms
         FROM g GROUP BY modality ORDER BY modality""",
    // binary exact dedup: both engines md5 the payload's HEX image (the
    // same uppercase characters — DuckDB 1.0 has only md5(VARCHAR) and
    // the framed payload is not valid utf-8); hex() is injective,
    // so the groups are exactly the byte-identical payload groups
    "q_mm_dedup" ->
      s"""WITH $AssetSqlCte,
         d AS (
           SELECT asset_id, modality, md5(phx) AS payload_fp, byte_len
           FROM a)
         SELECT modality, payload_fp, min(asset_id) AS keep_id,
                count(*) AS n_copies,
                CAST((count(*) - 1) * min(byte_len) AS BIGINT) AS dup_bytes
         FROM d GROUP BY modality, payload_fp
         ORDER BY modality, keep_id""",
    // audio window plan: same capped (duration-win)//hop+1 arithmetic
    "q_mm_windows" ->
      s"""WITH au AS (
           SELECT doc_id AS asset_id, n_chars * 40 AS duration_ms
           FROM documents WHERE doc_id % 3 = 1),
         w AS (
           SELECT asset_id, duration_ms,
                  CASE WHEN duration_ms >= $WinMs
                       THEN least($MaxWindows,
                                  (duration_ms - $WinMs) // $HopMs + 1)
                       ELSE 1 END AS n_windows
           FROM au)
         SELECT asset_id, n_windows, CAST(u.i AS BIGINT) AS win_idx,
                u.i * $HopMs AS start_ms,
                least(u.i * $HopMs + $WinMs, duration_ms) AS end_ms
         FROM w, unnest(generate_series(0, n_windows - 1)) AS u(i)
         ORDER BY asset_id, win_idx""",
    // keyframe snap: the same stride, snapped to the stss sync set —
    // no stss (single-chunk arm) = all-sync = key_idx == sample_idx;
    // stss {1, m = n/2+1} (two-chunk arm) = key 0 below sample m-1,
    // key m-1 from there — key offsets via the variant's chunk formula
    "q_mm_keyframes" ->
      s"""WITH $AssetSqlCte,
         $VideoFrameCteSql,
         k AS (
           SELECT *, CASE WHEN NOT vb THEN s
                          WHEN s >= nsmp // 2 THEN nsmp // 2
                          ELSE 0 END AS ky
           FROM g)
         SELECT asset_id, n_frames, frame_idx,
                s AS sample_idx, ky AS key_idx,
                ${videoOffsetSql("ky")} AS key_offset,
                s - ky AS back_samples
         FROM k ORDER BY asset_id, frame_idx""",
    // decoded keyframes: the same snap as q_mm_keyframes, then the
    // EXPECTED pixel statistics of the snapped sample's Motion-JPEG
    // frame in closed form (variant by key parity: constant gray v over
    // w×h whole MCUs) — the JDK codec output vs independent arithmetic
    "q_mm_vframes" ->
      s"""WITH $AssetSqlCte,
         $VideoFrameCteSql,
         k AS (
           SELECT *, CASE WHEN NOT vb THEN s
                          WHEN s >= nsmp // 2 THEN nsmp // 2
                          ELSE 0 END AS ky
           FROM g)
         SELECT asset_id, n_frames, frame_idx,
                s AS sample_idx, ky AS key_idx,
                CAST(CASE WHEN ky % 2 = 0 THEN fwa ELSE fwb END AS BIGINT)
                  AS width,
                CAST(CASE WHEN ky % 2 = 0 THEN fha ELSE fhb END AS BIGINT)
                  AS height,
                CAST(CASE WHEN ky % 2 = 0 THEN fwa * fha
                          ELSE fwb * fhb END AS BIGINT) AS n_px,
                CAST(CASE WHEN ky % 2 = 0 THEN fva ELSE fvb END AS BIGINT)
                  AS px_min,
                CAST(CASE WHEN ky % 2 = 0 THEN fva ELSE fvb END AS BIGINT)
                  AS px_max,
                CAST(CASE WHEN ky % 2 = 0 THEN fwa * fha * fva
                          ELSE fwb * fhb * fvb END AS BIGINT) AS px_sum
         FROM k ORDER BY asset_id, frame_idx""",
    // video near-dup: descriptors/bit-votes in closed form (the frame
    // multiset is {A×nA, B×nB}, so each bit's vote is two terms), then
    // the Hamming ≤ 3 filter over ALL pairs — blocking-agnostic, so the
    // Manku candidate generation is checked against full enumeration
    "q_mm_vdedup" ->
      s"""WITH $AssetSqlCte,
         hv AS (
           SELECT asset_id, nsmp - nsmp // 2 AS na, nsmp // 2 AS nb,
                  (('0x' || substr(md5(ca), 1, 8))::BIGINT << 31)
                    | (('0x' || substr(md5(ca), 9, 8))::BIGINT >> 1) AS ha,
                  (('0x' || substr(md5(cb), 1, 8))::BIGINT << 31)
                    | (('0x' || substr(md5(cb), 9, 8))::BIGINT >> 1) AS hb,
                  md5(phx) AS fp
           FROM (
             SELECT asset_id, nsmp, phx,
                    CAST(fwa AS VARCHAR) || ':' || CAST(fha AS VARCHAR)
                      || ':' || CAST(fva AS VARCHAR) AS ca,
                    CAST(fwb AS VARCHAR) || ':' || CAST(fhb AS VARCHAR)
                      || ':' || CAST(fvb AS VARCHAR) AS cb
             FROM a WHERE modality = 'video')),
         sb AS (
           SELECT asset_id, u.b AS b,
                  CASE WHEN na * (2 * ((ha >> CAST(u.b AS INT)) & 1) - 1)
                          + nb * (2 * ((hb >> CAST(u.b AS INT)) & 1) - 1) > 0
                       THEN (CAST(1 AS BIGINT) << CAST(u.b AS INT))
                       ELSE 0 END AS bv
           FROM hv, unnest(generate_series(0, 62)) AS u(b)),
         sg AS (
           SELECT asset_id, CAST(sum(bv) AS BIGINT) AS vsig
           FROM sb GROUP BY asset_id),
         sf AS (
           SELECT sg.asset_id, sg.vsig, hv.fp
           FROM sg JOIN hv ON hv.asset_id = sg.asset_id)
         SELECT x.asset_id AS asset_a, y.asset_id AS asset_b,
                CAST(bit_count(xor(x.vsig, y.vsig)) AS BIGINT) AS hamming,
                x.fp = y.fp AS same_bytes
         FROM sf x JOIN sf y ON x.asset_id < y.asset_id
         WHERE bit_count(xor(x.vsig, y.vsig)) <= 3
         ORDER BY asset_a, asset_b""",
    // fetch coalescing: replay the sample-table frame plan (wire-read
    // stco base + closed-form stsz prefix), then the same
    // lag/flag/running-sum range numbering and rollup
    "q_mm_fetch_plan" ->
      s"""WITH $AssetSqlCte,
         $VideoFrameCteSql,
         o0 AS (
           SELECT asset_id, frame_idx,
                  ${videoOffsetSql("s")} AS byte_offset,
                  CASE WHEN s % 2 = 0 THEN sza ELSE szb END AS ssz
           FROM g),
         o AS (
           SELECT asset_id, frame_idx, byte_offset,
                  byte_offset + ssz AS byte_end
           FROM o0),
         r AS (
           SELECT asset_id, frame_idx, byte_offset, byte_end,
                  lag(byte_end) OVER (
                    PARTITION BY asset_id ORDER BY byte_offset, frame_idx) AS prev_end
           FROM o),
         n AS (
           SELECT *, CASE WHEN prev_end IS NULL
                          OR byte_offset > prev_end + $CoalesceGap
                          THEN 1 ELSE 0 END AS new_range
           FROM r),
         ri AS (
           SELECT *, CAST(sum(new_range) OVER (
                    PARTITION BY asset_id ORDER BY byte_offset, frame_idx
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) - 1 AS range_id
           FROM n)
         SELECT asset_id, range_id,
                min(byte_offset) AS range_start,
                max(byte_end) AS range_end,
                count(*) AS n_frames,
                max(byte_end) - min(byte_offset) AS io_bytes
         FROM ri GROUP BY asset_id, range_id
         ORDER BY asset_id, range_id""",
    // fetch economics: the same range chain rolled to ONE row — request
    // count, bytes moved vs the samples' own bytes, gap waste, rates
    "q_mm_fetch_stats" ->
      s"""WITH $AssetSqlCte,
         $VideoFrameCteSql,
         o0 AS (
           SELECT asset_id, frame_idx,
                  ${videoOffsetSql("s")} AS byte_offset,
                  CASE WHEN s % 2 = 0 THEN sza ELSE szb END AS ssz
           FROM g),
         r AS (
           SELECT asset_id, frame_idx, byte_offset, ssz,
                  byte_offset + ssz AS byte_end,
                  lag(byte_offset + ssz) OVER (
                    PARTITION BY asset_id ORDER BY byte_offset, frame_idx) AS prev_end
           FROM o0),
         ri AS (
           SELECT *, CAST(sum(CASE WHEN prev_end IS NULL
                          OR byte_offset > prev_end + $CoalesceGap
                          THEN 1 ELSE 0 END) OVER (
                    PARTITION BY asset_id ORDER BY byte_offset, frame_idx
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) - 1 AS range_id
           FROM r),
         rr AS (
           SELECT asset_id, range_id,
                  max(byte_end) - min(byte_offset) AS io_bytes,
                  count(*) AS nf,
                  CAST(sum(ssz) AS BIGINT) AS useful_bytes
           FROM ri GROUP BY asset_id, range_id)
         SELECT CAST(count(DISTINCT asset_id) AS BIGINT) AS n_videos,
                count(*) AS n_requests,
                CAST(sum(nf) AS BIGINT) AS n_frames,
                CAST(sum(io_bytes) AS BIGINT) AS io_bytes,
                CAST(sum(useful_bytes) AS BIGINT) AS useful_bytes,
                CAST(sum(io_bytes) - sum(useful_bytes) AS BIGINT)
                  AS waste_bytes,
                CASE WHEN count(DISTINCT asset_id) > 0 THEN
                  CAST(count(*) AS DOUBLE) / count(DISTINCT asset_id)
                END AS requests_per_video,
                CASE WHEN sum(io_bytes) > 0 THEN
                  CAST(sum(useful_bytes) AS DOUBLE) / sum(io_bytes)
                END AS io_efficiency
         FROM rr""",
    "q_mm_meta" ->
      s"""WITH $AssetSqlCte
         SELECT asset_id, modality, byte_len, width, height,
                CASE WHEN modality = 'audio'
                     THEN CAST(rate AS BIGINT) END AS sample_rate,
                duration_ms
         FROM a ORDER BY asset_id""",
    "q_mm_shards" ->
      s"""WITH $AssetSqlCte,
         sh AS (
           SELECT asset_id, modality,
                  asset_id // 100000 AS volume, byte_len
           FROM a),
         c AS (
           SELECT asset_id, modality, volume, byte_len,
                  CAST(coalesce(sum(byte_len) OVER (
                    PARTITION BY modality, volume ORDER BY asset_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS cum_before
           FROM sh)
         SELECT asset_id, modality, volume, byte_len,
                cum_before // 65536 AS shard_id,
                cum_before % 65536 AS offset_in_shard
         FROM c ORDER BY modality, asset_id""",
  )
}
