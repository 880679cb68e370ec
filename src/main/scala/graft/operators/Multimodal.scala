package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multimodal-column operators (north-star scope): image/audio/video
  * payloads ride through the pipeline as opaque BINARY columns with a
  * typed metadata struct alongside text + embeddings — the row shape a
  * large-scale training-data pipeline materializes.
  *
  * Everything metadata-level (sniffing, hashing, sizing, sample assembly)
  * is real, codegen'd column arithmetic that scales like any other
  * projection. Actual codec work (pixel decode, resample, frame extract)
  * requires native libraries that are NOT in this build environment, so
  * [[decodeImageStub]] is a clearly-marked deterministic stand-in with the
  * production shape documented: at scale the decode step is a
  * `mapPartitions` (or Python `mapInPandas`) over batches of binary
  * payloads, emitting the same `(width, height, channels)` struct this
  * stub fakes — the schema, partitioning, and downstream plumbing are
  * identical either way.
  */
object Multimodal {

  /** Magic-byte prefixes (public file-format signatures). */
  val JpegMagic: Array[Byte] = Array(0xFF, 0xD8, 0xFF, 0xE0).map(_.toByte)
  val PngMagic: Array[Byte] = Array(0x89, 0x50, 0x4E, 0x47).map(_.toByte)
  val RiffMagic: Array[Byte] = Array(0x52, 0x49, 0x46, 0x46).map(_.toByte) // "RIFF" (wav/avi)

  /** Content-type sniff from leading magic bytes — hex-prefix compares on
    * bounded substrings only, so the whole (possibly huge) payload never
    * feeds the predicate. RIFF is a CONTAINER magic shared by WAV, WebP,
    * and AVI — the form tag at bytes 9-12 disambiguates (a web-scraped
    * corpus is full of WebP images; labeling them "audio" would route
    * images down audio paths and understate image counts). */
  def modality(bin: Column): Column = {
    val head = hex(substring(bin, 1, 4))
    val head6 = substring(bin, 1, 6).cast("string")
    val riffForm = substring(bin, 9, 4).cast("string")
    when(head.startsWith("FFD8FF"), lit("image/jpeg"))        // JPEG = FF D8 FF
      .when(head.startsWith("89504E47"), lit("image/png"))
      .when(head.startsWith("52494646"),
        when(riffForm === "WAVE", lit("audio/wav"))
          .when(riffForm === "WEBP", lit("image/webp"))
          .when(riffForm === "AVI ", lit("video/avi"))
          .otherwise(lit("application/riff")))
      // ISO-BMFF: the magic is the box TYPE at bytes 5-8, not byte 1;
      // the HEIF/AVIF image brands sniff as images (r16 — a crawl's
      // fastest-growing image formats were counting as video/mp4)
      .when(substring(bin, 5, 4).cast("string") === "ftyp",
        when(substring(bin, 9, 4).cast("string").isin("avif", "avis"),
          lit("image/avif"))
          .when(substring(bin, 9, 4).cast("string")
            .isin("heic", "heix", "heim", "heis", "mif1", "msf1"),
            lit("image/heic"))
          .otherwise(lit("video/mp4")))
      .when(head6 === "GIF87a" || head6 === "GIF89a", lit("image/gif"))
      // MAGIC HONESTY (mirrors DecodeDropReason): formats this pipeline
      // recognizes but ships no decoder for still sniff as their real
      // mime, so the drop report's (modality, reason) rows name them
      .when(head === "49492A00" || head === "4D4D002A", lit("image/tiff"))
      .when(head.startsWith("424D") &&
        hex(substring(bin, 7, 4)) === "00000000", lit("image/bmp"))
      // ID3v2-tagged only (mirrors DecodeDropReason): a bare FF-Ex frame
      // sync over-matches UTF-16LE text and 0xFF padding
      .when(head.startsWith("494433"), lit("audio/mpeg"))
      .when(head === "4F676753", lit("audio/ogg"))
      .when(head === "1A45DFA3", lit("video/webm"))
      .when(head === "664C6143", lit("audio/flac"))
      .otherwise(lit("application/octet-stream"))
  }

  /** Deterministic 128-bit content hash of a binary payload, emitted as hex
    * md5 — the exact-dedup / provenance key for media, same role
    * [[graft.functions.Funcs.fingerprint]] plays for text. (Hashes the hex
    * encoding so the Spark and DuckDB oracles agree byte-for-byte.) */
  def contentHash(bin: Column): Column = md5(hex(bin).cast("binary"))

  /** Typed media metadata struct: size, hash, sniffed modality. This is
    * the column a 100 TB pipeline computes ONCE at ingest and carries
    * instead of re-reading payload bytes. */
  def mediaMeta(bin: Column): Column = struct(
    length(bin).cast("bigint").as("n_bytes"),
    contentHash(bin).as("content_md5"),
    modality(bin).as("modality"))

  private def hexBytes(s: String): Array[Byte] =
    s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  /** `v` as `nBytes` big-endian bytes (binary column). The value is
    * masked to the field width FIRST: a bare lpad would keep the MOST
    * significant hex digits of an overflowing value (hex(70000)='11170'
    * lpad-4 → '1117' = 4375 — neither the value nor value mod 2¹⁶),
    * silently building headers whose fields round-trip wrong. Masking
    * matches [[leBytes]]' per-byte shift/mask arithmetic. */
  private def beBytes(v: Column, nBytes: Int): Column = {
    val masked =
      if (nBytes >= 8) v.cast("bigint")
      else v.cast("bigint").bitwiseAND(lit((1L << (nBytes * 8)) - 1))
    unhex(lpad(hex(masked), nBytes * 2, "0"))
  }

  /** Big-endian unsigned int read from `n` bytes at 1-based `pos` —
    * hex/conv arithmetic over a bounded substring, so the (possibly
    * huge) payload tail never feeds the expression. conv never throws,
    * keeping the parse ANSI-safe on truncated payloads. */
  private def beUInt(bin: Column, pos: Column, n: Int): Column =
    conv(hex(bin.substr(pos.cast("int"), lit(n))), 16, 10).cast("bigint")

  private val DimsType = "struct<width:bigint,height:bigint>"
  private def nullDims: Column = lit(null).cast(DimsType)

  /** Minimal well-formed PNG prefix (8-byte signature + IHDR chunk)
    * carrying the given dimensions; append any payload after it. */
  def pngHeader(width: Column, height: Column): Column = concat(
    lit(hexBytes("89504E470D0A1A0A0000000D49484452")), // signature + len 13 + "IHDR"
    beBytes(width, 4), beBytes(height, 4),
    lit(hexBytes("0806000000"))) // bit depth 8, RGBA, deflate, adaptive, no interlace

  /** Minimal well-formed JPEG prefix (SOI + JFIF APP0 + SOF0) carrying
    * the given dimensions; append any payload after it. */
  def jpegHeader(width: Column, height: Column): Column = concat(
    lit(hexBytes("FFD8" + // SOI
      "FFE000104A46494600010100000100010000" + // APP0: len 16, JFIF\0, v1.1
      "FFC0001108")), // SOF0: len 17, 8-bit precision
    beBytes(height, 2), beBytes(width, 2),
    lit(hexBytes("03011100021101031101"))) // 3 components (YCbCr)

  /** REAL PNG dimension decode — the IHDR chunk is mandatory and always
    * first (PNG spec §11.2.1), so width/height sit at fixed offsets
    * 16-19/20-23 (0-based) as big-endian u32s. Pure byte arithmetic on
    * the first 24 bytes; null for anything that is not a PNG with a
    * leading IHDR. */
  def pngDims(bin: Column): Column = {
    val isPng = length(bin) >= 24 &&
      hex(substring(bin, 1, 8)) === "89504E470D0A1A0A" && // full 8-byte signature
      hex(substring(bin, 13, 4)) === "49484452" // "IHDR"
    when(isPng, struct(
      beUInt(bin, lit(17), 4).as("width"),
      beUInt(bin, lit(21), 4).as("height"))).otherwise(nullDims)
  }

  /** REAL JPEG dimension decode: walk the segment chain from SOI (each
    * segment = FF marker + u16 length) until a start-of-frame marker
    * (SOF0/1/2 — baseline, extended, progressive), whose payload is
    * [len u16][precision u8][height u16][width u16]. Declarative bounded
    * fold (`aggregate` over `maxSegments` steps — headers precede
    * entropy-coded data, so real files reach SOF within a handful of
    * APPn/DQT/DHT segments); a desynced walk (garbage after the magic,
    * truncation, SOS before any SOF) yields null dimensions rather than
    * an error, which is the ingest-gate behavior a corrupt-payload scan
    * wants. All built-ins — the walk stays inside codegen. */
  def jpegDims(bin: Column, maxSegments: Int = 16): Column = {
    val isJpeg = length(bin) >= 4 && hex(substring(bin, 1, 2)) === "FFD8"
    val nullW = lit(null).cast("bigint").as("width")
    val nullH = lit(null).cast("bigint").as("height")
    // acc = (off: next unread 1-based offset, width/height once found);
    // segments start at offset 3, right after the 2-byte SOI
    val init = struct(lit(3L).as("off"), nullW, nullH)
    val walked = aggregate(
      sequence(lit(1), lit(maxSegments)),
      init,
      (acc, _) => {
        val off = acc.getField("off")
        val marker = beUInt(bin, off, 2)
        val segLen = beUInt(bin, off + 2, 2)
        // stop: dims found, walk ran off the payload (a full SOF read
        // needs bytes off .. off+8), or lost marker sync
        when(acc.getField("width").isNotNull || off + 8 > length(bin) ||
            beUInt(bin, off, 1) =!= 255, acc)
          .when(marker.isin(0xFFC0L, 0xFFC1L, 0xFFC2L),
            struct(off.as("off"),
              beUInt(bin, off + 7, 2).as("width"),
              beUInt(bin, off + 5, 2).as("height")))
          // start-of-scan: entropy data follows, no SOF will appear
          .when(marker === 0xFFDAL, struct(off.as("off"), nullW, nullH))
          .otherwise(struct((off + 2 + segLen).as("off"), nullW, nullH))
      })
    when(isJpeg && walked.getField("width").isNotNull, struct(
      walked.getField("width").as("width"),
      walked.getField("height").as("height"))).otherwise(nullDims)
  }

  /** REAL GIF dimension decode — the logical screen descriptor is fixed
    * at bytes 6-9 (0-based) right after the 6-byte magic, width/height
    * as little-endian u16s (GIF89a spec §18). Pure byte arithmetic on
    * the first 10 bytes; null for anything that is not a GIF. */
  def gifDims(bin: Column): Column = {
    val head6 = substring(bin, 1, 6).cast("string")
    val isGif = length(bin) >= 10 && (head6 === "GIF87a" || head6 === "GIF89a")
    when(isGif, struct(
      leUInt(bin, 7, 2).as("width"),
      leUInt(bin, 9, 2).as("height"))).otherwise(nullDims)
  }

  /** REAL BMP dimension decode — BITMAPINFOHEADER width/height at bytes
    * 18-21/22-25 (0-based) as little-endian i32s; a negative height is
    * the top-down variant, so its magnitude is reported. Null for
    * anything that is not a "BM"+reserved-zeros DIB. */
  def bmpDims(bin: Column): Column = {
    val isBmp = length(bin) >= 26 &&
      substring(bin, 1, 2).cast("string") === "BM" &&
      hex(substring(bin, 7, 4)) === "00000000"
    val hRaw = leUInt(bin, 23, 4)
    val h = when(hRaw >= lit(1L << 31), lit(1L << 32) - hRaw).otherwise(hRaw)
    when(isBmp, struct(
      leUInt(bin, 19, 4).as("width"), h.as("height"))).otherwise(nullDims)
  }

  /** Image dimensions from whichever container matches ([[pngDims]],
    * [[jpegDims]], [[gifDims]], [[bmpDims]]); null struct for other
    * modalities. */
  def imageDims(bin: Column): Column =
    coalesce(pngDims(bin), jpegDims(bin), gifDims(bin), bmpDims(bin))

  /** Little-endian unsigned int from `n` bytes at 1-based `pos`. */
  private def leUInt(bin: Column, pos: Int, n: Int): Column =
    (0 until n).map(i => beUInt(bin, lit(pos + i), 1) * lit(1L << (8 * i))).reduce(_ + _)

  /** `v` as `nBytes` little-endian bytes (binary column). */
  private def leBytes(v: Column, nBytes: Int): Column =
    concat((0 until nBytes).map(i =>
      unhex(lpad(hex(shiftright(v.cast("bigint"), 8 * i).bitwiseAND(lit(255L))), 2, "0"))): _*)

  /** Canonical 44-byte PCM WAV header (RIFF/WAVE/fmt/data) carrying the
    * given geometry; append the sample bytes after it. */
  def wavHeader(channels: Column, sampleRate: Column, bitsPerSample: Column,
      dataBytes: Column): Column = {
    val blockAlign = ((channels * bitsPerSample) / 8).cast("bigint")
    val byteRate = (sampleRate * blockAlign).cast("bigint")
    concat(
      lit("RIFF".getBytes("US-ASCII")), leBytes(dataBytes + 36L, 4),
      lit("WAVEfmt ".getBytes("US-ASCII")), leBytes(lit(16L), 4), // PCM fmt chunk
      leBytes(lit(1L), 2), leBytes(channels, 2), leBytes(sampleRate, 4),
      leBytes(byteRate, 4), leBytes(blockAlign, 2), leBytes(bitsPerSample, 2),
      lit("data".getBytes("US-ASCII")), leBytes(dataBytes, 4))
  }

  private val WavMetaType =
    "struct<n_channels:bigint,sample_rate:bigint,bits_per_sample:bigint," +
      "data_bytes:bigint,duration_ms:bigint>"

  /** REAL WAV audio metadata decode for the canonical PCM layout (fmt
    * chunk first, data chunk at offset 36 — the shape every standard
    * encoder emits): channels/rate/bits/data size as little-endian
    * fields at the spec offsets, duration derived from the byte rate.
    * Null (never an error) for payloads that are not canonical WAV —
    * chunk-reordered files would need a walker like [[jpegDims]]'; the
    * strict marker check ("RIFF", "WAVEfmt ", "data") keeps this honest
    * rather than misparsing them. */
  def wavMeta(bin: Column): Column = {
    val isWav = length(bin) >= 44 &&
      hex(substring(bin, 1, 4)) === "52494646" && // "RIFF"
      hex(substring(bin, 9, 8)) === "57415645666D7420" && // "WAVEfmt "
      // audio-format tag must be PCM (1): an IEEE-float or A-law/mu-law
      // WAV with a 16-byte fmt chunk would otherwise parse "successfully"
      // and downstream consumers would misread every sample at
      // bits_per_sample — the canonical-PCM claim must be CHECKED
      leUInt(bin, 21, 2) === 1L &&
      hex(substring(bin, 37, 4)) === "64617461" // "data"
    val byteRate = leUInt(bin, 29, 4)
    val dataBytes = leUInt(bin, 41, 4)
    when(isWav, struct(
      leUInt(bin, 23, 2).as("n_channels"),
      leUInt(bin, 25, 4).as("sample_rate"),
      leUInt(bin, 35, 2).as("bits_per_sample"),
      dataBytes.as("data_bytes"),
      when(byteRate > 0,
        floor(dataBytes * lit(1000.0d) / byteRate).cast("bigint"))
        .otherwise(lit(null).cast("bigint")).as("duration_ms")))
      .otherwise(lit(null).cast(WavMetaType))
  }

  /** Minimal well-formed FLAC prefix — "fLaC" followed by the mandatory
    * STREAMINFO metadata block (the spec REQUIRES it first), marked
    * last-block, carrying the given geometry in the spec's packed bit
    * layout (sample rate 20 bits, channels−1 3 bits, bits−1 5 bits,
    * total samples 36 bits); block sizes pinned 4096, frame sizes and
    * the signature MD5 left unset (0 = unknown, spec-legal). Append the
    * (undecoded) frame payload after it. This builder exists so the
    * METADATA census has real bytes to parse; full frame encoding lives
    * in [[flacEncodePcm16]] (16-bit frames decode for real now — other
    * profiles stay `unsupported_profile` in the drop report). */
  def flacHeader(sampleRate: Column, channels: Column, bitsPerSample: Column,
      totalSamples: Column): Column = {
    val rate = sampleRate.cast("bigint")
    val ch1 = channels.cast("bigint") - 1L
    val bp1 = bitsPerSample.cast("bigint") - 1L
    val tot = totalSamples.cast("bigint")
    concat(
      lit("fLaC".getBytes("US-ASCII")),
      unhex(lit("80000022")), // last-block | STREAMINFO, length 34
      beBytes(lit(4096L), 2), beBytes(lit(4096L), 2), // min/max blocksize
      unhex(lit("000000000000")), // min/max framesize: unknown
      beBytes(shiftright(rate, 12), 1),
      beBytes(shiftright(rate, 4), 1),
      beBytes(rate.bitwiseAND(lit(15L)) * 16L + ch1 * 2L + shiftright(bp1, 4), 1),
      beBytes(bp1.bitwiseAND(lit(15L)) * 16L +
        shiftright(tot, 32).bitwiseAND(lit(15L)), 1),
      beBytes(tot, 4),
      lit(new Array[Byte](16))) // signature MD5 unset (spec-legal)
  }

  private val FlacMetaType =
    "struct<sample_rate:bigint,n_channels:bigint,bits_per_sample:bigint," +
      "total_samples:bigint,duration_ms:bigint>"

  /** REAL FLAC STREAMINFO metadata decode — the audio census for a
    * format whose FRAMES stay undecoded (recognized-but-unsupported in
    * the drop report, like MP3/Ogg): the spec mandates STREAMINFO as the
    * first metadata block, so the packed fields sit at fixed offsets —
    * sample rate 20 bits, channels−1 3 bits, bits−1 5 bits, total
    * samples 36 bits, straddling byte boundaries exactly as published.
    * Null (never an error) for anything that is not a FLAC whose first
    * block is a length-34 STREAMINFO. */
  def flacMeta(bin: Column): Column = {
    val isFlac = length(bin) >= 42 &&
      hex(substring(bin, 1, 4)) === "664C6143" && // "fLaC"
      beUInt(bin, lit(5), 1).bitwiseAND(lit(0x7fL)) === 0L && // STREAMINFO first
      beUInt(bin, lit(6), 3) === 34L
    val rate = beUInt(bin, lit(19), 2) * 16L +
      shiftright(beUInt(bin, lit(21), 1), 4)
    val ch = shiftright(beUInt(bin, lit(21), 1), 1).bitwiseAND(lit(7L)) + 1L
    val bits = beUInt(bin, lit(21), 1).bitwiseAND(lit(1L)) * 16L +
      shiftright(beUInt(bin, lit(22), 1), 4) + 1L
    val total = beUInt(bin, lit(22), 1).bitwiseAND(lit(15L)) * 4294967296L +
      beUInt(bin, lit(23), 4)
    when(isFlac, struct(
      rate.as("sample_rate"),
      ch.as("n_channels"),
      bits.as("bits_per_sample"),
      total.as("total_samples"),
      when(rate > 0, floor(total * lit(1000.0d) / rate).cast("bigint"))
        .otherwise(lit(null).cast("bigint")).as("duration_ms")))
      .otherwise(lit(null).cast(FlacMetaType))
  }

  /** IEEE-754 double bit pattern of a POSITIVE integer-valued column —
    * exact integer arithmetic (exponent from the binary-string length,
    * mantissa by an exact power-of-two scale, products < 2⁵³), which is
    * what lets a pure-Column fixture write an EBML float element. */
  private def doubleBits(v: Column): Column = {
    val e = (length(bin(v.cast("bigint"))) - 1).cast("bigint")
    (lit(1023L) + e) * lit(4503599627370496L) +
      (v.cast("bigint") *
        pow(lit(2.0), lit(52.0) - e.cast("double")).cast("bigint") -
        lit(4503599627370496L))
  }

  /** Minimal well-formed WebM — a REAL EBML layout (header with DocType
    * "webm", Segment{Info{TimestampScale 10⁶ ns, float64 Duration},
    * Tracks{video TrackEntry with PixelWidth/Height + CodecID, audio
    * TrackEntry with CodecID}}), every ID and VINT size straight from
    * the published spec; byte layout pinned against hand-computed hex in
    * MultimodalSpec so the builder and [[webmMeta]] cannot share a
    * compensating offset bug. `videoCodec` must be a 5-byte codec ID
    * (V_VP8 / V_VP9), `audioCodec` a 6-byte one (A_OPUS / A_FLAC) — the
    * fixed widths keep every field at a closed-form offset. With
    * TimestampScale 10⁶, Duration is the duration in milliseconds.
    * Append (undecoded) Cluster payload after it if desired. */
  def webmHeader(width: Column, height: Column, durationMs: Column,
      videoCodec: Column, audioCodec: Column): Column = concat(
    lit(hexBytes("1A45DFA39F" +                    // EBML header, size 31
      "4286810142F7810142F2810442F38108" +         // versions / max lengths
      "4282847765626D" +                           // DocType "webm"
      "4287810242858102")),                        // DocTypeVersion/Read 2
    lit(hexBytes("18538067CD")),                   // Segment, size 77
    lit(hexBytes("1549A96692" + "2AD7B1830F4240" + // Info(18): scale 1e6
      "448988")),                                  // Duration, float64
    beBytes(doubleBits(durationMs), 8),
    lit(hexBytes("1654AE6BB1")),                   // Tracks, size 49
    lit(hexBytes("AE9B" + "D78101" + "73C58101" + "838101" + "8685")),
    videoCodec.cast("binary"),                     // video TrackEntry(27)
    lit(hexBytes("E088B082")), beBytes(width, 2),
    lit(hexBytes("BA82")), beBytes(height, 2),
    lit(hexBytes("AE92" + "D78102" + "73C58102" + "838102" + "8686")),
    audioCodec.cast("binary"))                     // audio TrackEntry(18)

  /** REAL EBML/Matroska metadata census ([[graft.functions.Native
    * .WebmMeta]]): DocType, TimestampScale, float Duration → ms,
    * track count, first video track's dims and codec, first audio
    * track's codec — a genuine VINT walk, frames stay undecoded. */
  def webmMeta(bin: Column): Column = graft.functions.Native.webmMeta(bin)

  /** REAL Ogg page-header census ([[graft.functions.Native.OggMeta]]):
    * pages, BOS stream count, first serial, final granule, payload bytes
    * — CRC-verified page walk, packets stay undecoded. */
  def oggMeta(bin: Column): Column = graft.functions.Native.oggMeta(bin)

  /** Fixture-grade Ogg page-sequence builder ([[graft.functions.Native
    * .OggPagesEncode]]): real capture pattern, lacing, published CRC-32
    * per page; round-robin over `nStreams` serials with BOS/EOS flags. */
  def oggPages(serial: Column, nPages: Column, nStreams: Int = 1): Column =
    graft.functions.Native.oggPages(serial, nPages, nStreams)

  /** Ogg CODEC identification ([[graft.functions.Native.OggIdent]]):
    * the CRC-verified page walk plus the published Vorbis/Opus
    * identification-packet layouts on BOS pages — codec, channels,
    * rate, and exact granule-derived duration for the first audio
    * stream. Packets stay undecoded. */
  def oggIdent(bin: Column): Column = graft.functions.Native.oggIdent(bin)

  /** Fixture-grade single-stream Ogg audio builder ([[graft.functions
    * .Native.OggAudioEncode]]): a real Vorbis or Opus identification
    * packet on the BOS page, granule 441·i per page, published CRC-32. */
  def oggAudio(serial: Column, nPages: Column, codec: String,
      channels: Int, rate: Int, preskip: Int = 0): Column =
    graft.functions.Native.oggAudio(serial, nPages, codec, channels, rate, preskip)

  /** REAL MPEG-audio (MP3) frame-header census ([[graft.functions
    * .Native.Mp3Meta]]): ID3v2 envelope, every frame header walked by
    * the version×layer length formulas, Xing/Info VBR frame count,
    * exact duration — frames stay undecoded (the census stance). */
  def mp3Meta(bin: Column): Column = graft.functions.Native.mp3Meta(bin)

  /** HEIF/AVIF image census ([[graft.functions.Native.AvifMeta]] /
    * [[graft.functions.Native.Bmff]]): ftyp brand, primary item type and
    * geometry resolved through the real ipma property associations,
    * codec id, item count. Census depth — the AV1/HEVC payload is the
    * documented profile boundary. */
  def avifMeta(bin: Column): Column = graft.functions.Native.avifMeta(bin)

  /** Minimal sound HEIF/AVIF container builder ([[graft.functions.Native
    * .AvifMetaEncode]]): planted geometry behind the real meta/iprp/ipma
    * machinery; `wh` packs width*65536+height. */
  def avifEncodeMeta(payload: Column, wh: Column, heic: Boolean): Column =
    graft.functions.Native.avifEncodeMeta(payload, wh, heic)

  /** REAL MPEG Audio Layer III decode to the canonical PCM16 WAV
    * ([[graft.functions.Native.Mp3DecodeWav]] / [[graft.functions
    * .Mp3L3]]): frame walk, bit reservoir, scalefactors, Huffman decode
    * over the machine-validated table subset, requantize, MS stereo
    * matrixing, alias reduction, long/short IMDCT, polyphase synthesis.
    * Typed refusals for intensity stereo, escape-table streams, mixed
    * blocks, MPEG-2.5. */
  def mp3DecodeWav(bin: Column): Column = graft.functions.Native.mp3DecodeWav(bin)

  /** Fixture MPEG-1 Layer III mono encoder ([[graft.functions.Native
    * .Mp3FixtureEncode]]): planted 16-byte-per-granule spec → real
    * stream with packed main data (nonzero main_data_begin); variants
    * emit byte-different, decode-identical Huffman codings. */
  def mp3FixtureEncode(spec: Column, variant: Column): Column =
    graft.functions.Native.mp3FixtureEncode(spec, variant)

  /** Fixture-grade MPEG-1 Layer III stream builder ([[graft.functions
    * .Native.Mp3FramesEncode]]): real ID3v2.3 syncsafe envelope, spec
    * frame headers, optional Xing header, trailing ID3v1 block. */
  def mp3Frames(id3Payload: Column, nFrames: Column, bitrateIdx: Int,
      rateIdx: Int, mono: Boolean = false, xing: Boolean = false): Column =
    graft.functions.Native.mp3Frames(id3Payload, nFrames, bitrateIdx, rateIdx,
      mono, xing)

  /** Minimal well-formed ISO-BMFF (MP4) prefix — `ftyp` (isom) followed
    * by `moov` whose first child is a version-0 `mvhd` carrying the given
    * movie timescale and duration (rate 1.0, volume 1.0, unity matrix,
    * next track id 1); append any payload after it. Byte layout is
    * pinned against hand-computed hex in MultimodalSpec so the builder
    * and [[mp4Meta]] cannot share a compensating offset bug. */
  def mp4Header(timescale: Column, duration: Column): Column = concat(
    lit(hexBytes("000000106674797069736F6D00000200")), // ftyp(16): isom, minor 0x200
    lit(hexBytes("000000746D6F6F76")),                 // moov(116)
    lit(hexBytes("0000006C6D76686400000000" +         // mvhd(108), v0 + flags
      "0000000000000000")),                            // ctime, mtime
    beBytes(timescale, 4), beBytes(duration, 4),
    lit(hexBytes("000100000100" + "00" * 10 +          // rate 1.0, volume 1.0, reserved
      "000100000000000000000000000000000001000000000000000000000000000040000000" + // unity matrix
      "00" * 24 + "00000001")))                        // pre_defined, next_track_ID

  private val Mp4MetaType =
    "struct<major_brand:string,version:bigint,timescale:bigint," +
      "duration:bigint,duration_ms:bigint>"

  /** REAL MP4/ISO-BMFF movie-header decode: a bounded top-level box walk
    * (`ftyp` first, then up to three hops — real files put `mdat` or
    * `free` before `moov`) to the `moov` box whose FIRST child must be
    * `mvhd` (the layout every standard muxer emits; the strict check
    * keeps this honest rather than misparsing exotic layouts, the
    * [[wavMeta]] stance). Both mvhd versions parse — v0 (32-bit times)
    * and v1 (64-bit times, the large-presentation variant) — and
    * duration_ms derives from duration/timescale. Null, never an error,
    * on anything else: all reads are bounded substrings over the header
    * region, so the (possibly huge) mdat tail never feeds an expression
    * and a truncated payload cannot throw under ANSI. */
  def mp4Meta(bin: Column): Column = {
    def boxSize(p: Column) = beUInt(bin, p, 4)
    def boxType(p: Column) = bin.substr((p + lit(4L)).cast("int"), lit(4)).cast("string")
    // top-level walk: moov directly after ftyp, or ≤ 3 boxes later —
    // hops guard on size ≥ 8 so a garbage size can't loop the positions
    val q1 = lit(1L) + boxSize(lit(1L))
    val q2 = when(boxSize(q1) >= 8L, q1 + boxSize(q1))
    val q3 = when(boxSize(q2) >= 8L, q2 + boxSize(q2))
    val m = when(boxType(q1) === "moov", q1)
      .when(boxType(q2) === "moov", q2)
      .when(boxType(q3) === "moov", q3)
    mp4MetaAt(bin, m)
  }

  /** [[mp4Meta]]'s field decode once the moov position `m` is known. */
  private def mp4MetaAt(bin: Column, m: Column): Column = {
    def boxSize(p: Column) = beUInt(bin, p, 4)
    def boxType(p: Column) = bin.substr((p + lit(4L)).cast("int"), lit(4)).cast("string")
    val isMp4 = length(bin) >= 52L &&
      boxType(lit(1L)) === "ftyp" && boxSize(lit(1L)) >= 16L &&
      m.isNotNull && boxType(m + lit(8L)) === "mvhd"
    val version = beUInt(bin, m + lit(16L), 1)
    val timescale = when(version === 0L, beUInt(bin, m + lit(28L), 4))
      .when(version === 1L, beUInt(bin, m + lit(36L), 4))
    val duration = when(version === 0L, beUInt(bin, m + lit(32L), 4))
      .when(version === 1L, beUInt(bin, m + lit(40L), 8))
    // duration.isNotNull too: a v1 header truncated between timescale
    // (m+36) and duration (m+40..47) must null the WHOLE struct ([[wavMeta]]
    // stance: null, never a partially-decoded record)
    when(isMp4 && timescale.isNotNull && duration.isNotNull, struct(
      bin.substr(9, 4).cast("string").as("major_brand"),
      version.as("version"),
      timescale.as("timescale"),
      duration.as("duration"),
      when(timescale > 0L, floor(duration * lit(1000.0d) / timescale).cast("bigint"))
        .otherwise(lit(null).cast("bigint")).as("duration_ms")))
      .otherwise(lit(null).cast(Mp4MetaType))
  }

  /** The production form of [[mp4Meta]]: the walk positions `q1→q2→q3`
    * and the decoded struct are STAGED behind projection boundaries. The
    * single-Column form nests each hop's position inside the next
    * (`q3` contains `q2` three times, `q2` contains `q1` three times, and
    * the struct reads the moov position once per field), so inlined it
    * grows ~3^hops — big enough that codegen falls back to the
    * interpreted evaluator, which re-evaluates every repeated subtree
    * per row (measured 5.8 s for 1 250 rows at sf0.1; 0.3 s staged).
    * Each stage's column is non-cheap and referenced more than once, so
    * CollapseProject provably keeps the boundaries. */
  def withMp4Meta(df: DataFrame, bin: Column, out: String): DataFrame = {
    def boxSize(p: Column) = beUInt(col("__graft_mp4_bin"), p, 4)
    def boxType(p: Column) =
      col("__graft_mp4_bin").substr((p + lit(4L)).cast("int"), lit(4)).cast("string")
    df.withColumn("__graft_mp4_bin", bin)
      .withColumn("__graft_mp4_q1", lit(1L) + boxSize(lit(1L)))
      .withColumn("__graft_mp4_q2", when(boxSize(col("__graft_mp4_q1")) >= 8L, col("__graft_mp4_q1") + boxSize(col("__graft_mp4_q1"))))
      .withColumn("__graft_mp4_q3", when(boxSize(col("__graft_mp4_q2")) >= 8L, col("__graft_mp4_q2") + boxSize(col("__graft_mp4_q2"))))
      .withColumn("__graft_mp4_m", when(boxType(col("__graft_mp4_q1")) === "moov", col("__graft_mp4_q1"))
        .when(boxType(col("__graft_mp4_q2")) === "moov", col("__graft_mp4_q2"))
        .when(boxType(col("__graft_mp4_q3")) === "moov", col("__graft_mp4_q3")))
      .withColumn(out, mp4MetaAt(col("__graft_mp4_bin"), col("__graft_mp4_m")))
      .drop("__graft_mp4_bin", "__graft_mp4_q1", "__graft_mp4_q2", "__graft_mp4_q3", "__graft_mp4_m")
  }

  /** Corpus-wide media census — the per-(source, modality) inventory a
    * multimodal pipeline reads before routing anything to codecs: how
    * many payloads of each sniffed type each source contributes, and
    * their byte mass (the decode-cost estimate). One partial-aggregated
    * shuffle whose group keys are (source, modality) — sources × formats
    * rows — and whose per-row work is the bounded-substring
    * [[modality]] sniff: the payload bytes never move, only counters. */
  def mediaInventory(media: DataFrame): DataFrame =
    media
      .select(col("source"), modality(col("media")).as("modality"),
        length(col("media")).cast("bigint").as("nb"))
      .groupBy("source", "modality")
      .agg(count(lit(1)).cast("bigint").as("n_media"),
        sum(col("nb")).cast("bigint").as("total_bytes"))

  /** STUB — deterministic fake image decode. Production: this exact
    * struct comes from a `mapPartitions` batch decode with a real codec
    * (libjpeg/ffmpeg), one partition per worker-locality batch; the fake
    * derives plausible dimensions from the payload hash so downstream
    * plumbing (schema, filters, grouping on decoded fields) is testable
    * without the native libs. Header-level dimensions need no codec at
    * all — [[pngDims]]/[[jpegDims]] parse them for real. */
  def decodeImageStub(bin: Column): Column = {
    val h = xxhash64(bin) // pmod (not %/abs): ANSI-safe, always non-negative
    struct(
      (pmod(h, lit(1920L)) + 1).cast("int").as("width"),
      (pmod(h, lit(1080L)) + 1).cast("int").as("height"),
      lit(3).as("channels"))
  }

  /** Decoded-image row emitted by [[decodePartitions]]. */
  case class DecodedImage(doc_id: Long, width: Int, height: Int, channels: Int,
      feature: Array[Float])

  /** The REAL decode plumbing — the Scala analog of a Python
    * `mapInPandas` batch decode: one pluggable `codec` call per payload,
    * executed per partition so a native library handle (libjpeg/ffmpeg
    * context) is acquired once per task, not per row. Rows whose payloads
    * fail to decode are dropped (codec returns None). The default codec
    * is [[realCodec]] — actual JVM decoders for PNG, baseline JPEG, and
    * PCM WAV, modality-dispatched on the magic bytes — so the default
    * path decodes real payloads; [[fakeCodec]] remains only as an
    * explicitly-passed test double for formats the JVM cannot decode
    * unaided (WebP/AVIF-class plumbing tests). Swap `codec` for a
    * native-library codec in production — nothing else changes.
    */
  def decodePartitions(
      media: DataFrame,
      codec: Array[Byte] => Option[(Int, Int, Int, Array[Float])] = realCodec): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        // per-task codec setup would go here (one native context per partition)
        rows.flatMap { case (id, bytes) =>
          codec(bytes).map { case (w, h, c, f) => DecodedImage(id, w, h, c, f) }
        }
      }
      .toDF()
  }

  /** REAL default codec for [[decodePartitions]], dispatched on magic
    * bytes: PNG (gray + truecolor RGB/RGBA) and baseline JPEG (gray +
    * YCbCr) decode to their luma bitmap with TRUE dimensions (channels =
    * 1 — the luma plane); canonical 16-bit-PCM WAV decodes to its
    * 72-bucket energy envelope (width = 72, height = 1); MJPEG video
    * (RIFF-AVI or ISO-BMFF/MP4, through the same container walks the
    * expression path uses) decodes to its FIRST frame's luma — so every
    * modality the expression surface decodes, the partition boundary
    * decodes too, and the drop report cannot disagree with this path
    * about whether a payload "decodes". RIFF payloads dispatch on the
    * form tag at bytes 8–11 (WAVE → audio, AVI → video), never blindly
    * to the WAV core. The feature vector is the 8-bin normalized
    * luma/energy histogram — a real image/audio statistic (each bin =
    * fraction of bytes in [32k, 32k+32)), integer-exact underneath so an
    * oracle can recompute it. The full image matrix decodes to its luma
    * through the SAME cores as the column expressions
    * ([[graft.functions.Native]]): PNG, JPEG (baseline/progressive/
    * SOF1-8-bit), GIF, the BMP zoo, the TIFF zoo incl. the CCITT
    * family, and WebP — both VP8L lossless and lossy VP8 keyframes;
    * WAV-zoo audio and FLAC decode to PCM and ride the WAV envelope;
    * MJPEG AVI/MP4 decode their first frame. Anything else —
    * MP3/Ogg/WebM-class recognized magics, AVIF, out-of-contract
    * profiles, corrupt bytes — fails to decode (None): those stay
    * codec-library work behind the pluggable `codec` parameter. Shared
    * cores mean decode semantics cannot fork between the expression
    * path and the partition path. */
  def realCodec(bytes: Array[Byte]): Option[(Int, Int, Int, Array[Float])] = {
    if (bytes == null || bytes.length < 4) return None
    def feat(px: Array[Byte]): Array[Float] = {
      val hist = new Array[Float](8)
      var i = 0
      while (i < px.length) { hist((px(i) & 0xff) >> 5) += 1f; i += 1 }
      var j = 0
      while (j < 8) { hist(j) /= px.length; j += 1 }
      hist
    }
    def lumaOf(d: Option[(Int, Int, Array[Byte])]) =
      d.map { case (w, h, px) => (w, h, 1, feat(px)) }
    val b0 = bytes(0) & 0xff; val b1 = bytes(1) & 0xff
    if (b0 == 0x89 && b1 == 'P')
      lumaOf(graft.functions.Native.pngLumaBytes(bytes))
    else if (b0 == 0xFF && b1 == 0xD8)
      lumaOf(graft.functions.Native.jpegLumaBytes(bytes))
    else if (b0 == 'G' && b1 == 'I')
      lumaOf(graft.functions.Native.gifLumaBytes(bytes))
    else if (b0 == 'B' && b1 == 'M')
      lumaOf(graft.functions.Native.bmpLumaBytes(bytes))
    else if ((b0 == 'I' && b1 == 'I') || (b0 == 'M' && b1 == 'M'))
      lumaOf(graft.functions.Native.tiffLumaBytes(bytes))
    else if (b0 == 'R' && b1 == 'I') {
      // disambiguate the RIFF form (bytes 8-11) BEFORE picking a core:
      // AVI and WebP payloads must never reach the WAV sample walk
      if (bytes.length >= 12 && bytes(8) == 'W' && bytes(9) == 'A' &&
          bytes(10) == 'V' && bytes(11) == 'E')
        graft.functions.Native.wavEnvelopeBytes(bytes, 72)
          .map(env => (env.length, 1, 1, feat(env)))
      else if (bytes.length >= 12 && bytes(8) == 'W' && bytes(9) == 'E' &&
          bytes(10) == 'B' && bytes(11) == 'P')
        lumaOf(graft.functions.Native.webpLumaBytes(bytes))
      else lumaOf(graft.functions.Native.videoFirstFrameLumaBytes(bytes))
    } else if (bytes.length >= 12 && bytes(4) == 'f' && bytes(5) == 't' &&
        bytes(6) == 'y' && bytes(7) == 'p')
      lumaOf(graft.functions.Native.videoFirstFrameLumaBytes(bytes))
    else if (b0 == 'f' && b1 == 'L' && bytes(2) == 'a' && bytes(3) == 'C')
      // FLAC decodes to PCM16 WAV for real, then rides the WAV envelope
      graft.functions.Native.flacWavBytes(bytes)
        .flatMap(w => graft.functions.Native.wavEnvelopeBytes(w, 72))
        .map(env => (env.length, 1, 1, feat(env)))
    else None
  }

  /** STUB codec — an explicitly-passed TEST DOUBLE, never a default:
    * plausible dimensions + an 8-dim feature vector derived from the
    * payload hash, for exercising the [[decodePartitions]] plumbing with
    * formats this pipeline ships no decoder for (AVIF-class).
    * Deterministic; null/empty payloads fail to decode (None) like a
    * real codec would. */
  def fakeCodec(bytes: Array[Byte]): Option[(Int, Int, Int, Array[Float])] = {
    if (bytes == null || bytes.isEmpty) None
    else {
      val h = java.util.Arrays.hashCode(bytes).toLong & 0x7FFFFFFFL
      val feature = Array.tabulate(8)(i => (((h >> (i * 4)) & 0xF).toFloat / 15f))
      Some(((h % 1920 + 1).toInt, (h % 1080 + 1).toInt, 3, feature))
    }
  }

  /** Decode-drop observability — the report the near-dup tiers owe their
    * pipeline owner: those tiers (correctly) drop undecodable payloads
    * BEFORE any shuffle, which at crawl scale silently hides "40% of
    * source X's PNGs fail decode". One pass over the same media relation
    * produces (source, modality, reason) → (n_dropped, dropped_bytes)
    * counters, with the reason from the cheap best-effort classifier
    * ([[graft.functions.Native.DecodeDropReason]]: bad_magic / truncated /
    * unsupported_profile / bomb_guard / corrupt). Decodable payloads
    * contribute NO row. Scale shape: map-side classification fused into
    * the payload scan; one partial-aggregated shuffle whose rows are
    * counters over sources × modalities × 5 reasons — the payload bytes
    * never move. `media` carries (source, media BINARY). */
  def decodeDropReport(media: DataFrame): DataFrame =
    media
      .select(col("source"), modality(col("media")).as("modality"),
        graft.functions.Native.opaque(graft.functions.Native.decodeDropReason(col("media"))).as("reason"),
        length(col("media")).cast("bigint").as("nb"))
      .filter(col("reason").isNotNull)
      .groupBy("source", "modality", "reason")
      .agg(count(lit(1)).cast("bigint").as("n_dropped"),
        sum(col("nb")).cast("bigint").as("dropped_bytes"))

  /** STUB — resize plan: the target geometry preserving aspect ratio
    * within a `maxDim` box, computed from decoded dimensions. Pure column
    * arithmetic (the pixel resample itself is codec work executed inside
    * [[decodePartitions]]' pluggable codec). */
  def resizePlan(width: Column, height: Column, maxDim: Int): Column = {
    val scale = least(lit(maxDim) / width.cast("double"), lit(maxDim) / height.cast("double"), lit(1.0))
    // clamp after ceil: dim·(maxDim/dim) can land a hair ABOVE maxDim in
    // doubles (147·(10/147) = 10.000000000000002), and ceil would then
    // emit maxDim+1 — breaking the "fits the box" contract a consumer
    // sizes buffers against
    struct(
      least(ceil(width * scale), lit(maxDim)).cast("int").as("target_width"),
      least(ceil(height * scale), lit(maxDim)).cast("int").as("target_height"))
  }

  /** Perceptual image fingerprint — [[graft.functions.Native.DHash64]]
    * over a `width`×`height` row-major 8-bit grayscale bitmap (the
    * post-decode layout every codec can emit; decode itself is the
    * [[decodeImageStub]] plug-in boundary): block-average to a 9×8 mean
    * grid, bit r·8+c = mean[r][c] > mean[r][c+1]. Near-identical images
    * (re-encodes, resizes, slight crops) land within a few bits. Map-side
    * expression — fuses into the scan at any scale. */
  def dHash(grayscale: Column, width: Int, height: Int): Column =
    graft.functions.Native.dhash(grayscale, width, height)

  /** Image near-dup signature: [[dHash]] of a `width`×`height` grayscale
    * bitmap, opaque-wrapped like every near-dup sig (the decode chain must
    * not be duplicated below exchanges). Real payloads compose it with a
    * luma decoder — [[pngDecodeLuma]], [[jpegDecodeLuma]],
    * [[webpDecodeLuma]], [[gifDecodeLuma]], [[bmpDecodeLuma]] or
    * [[tiffDecodeLuma]] — and band it with
    * [[graft.operators.Dedup.signedNearDup]] (pigeonhole banding, hot-bucket
    * skew guard, exact Hamming verify). Undecodable payloads (NULL luma ⇒
    * NULL sig) drop at the scan, before any shuffle; only the 8-byte
    * signatures band, so a billion-image corpus bands over 8 GB. Pipelines
    * whose duplicate ids share payload BYTES bit-for-bit can sign each
    * distinct payload ONCE and fan the ids out at the 8-byte signature
    * level, instead of decoding the same bytes once per id. */
  def imageNearDupSig(img: Column, width: Int, height: Int): Column =
    graft.functions.Native.opaque(dHash(img, width, height))

  /** REAL PNG pixel decode ([[graft.functions.Native.PngGray8Decode]]):
    * PNG bytes → row-major grayscale-8 bitmap, null on anything
    * non-conforming (wrong format, bad CRC/Adler, non-gray8 geometry).
    * This closes the decode gap for the one format the build environment
    * can decode with the JDK alone (zlib ships in `java.util.zip`);
    * JPEG/WebP stay behind the [[decodePartitions]] codec boundary. */
  def pngDecodeGray8(png: Column): Column =
    graft.functions.Native.pngDecodeGray8(png)

  /** Fixture-grade PNG ENCODE (real signature/IHDR/IDAT/IEND, chunk CRCs,
    * zlib stream): grayscale-8 bitmap → genuine PNG bytes any compliant
    * reader decodes. `stored = true` writes STORED deflate blocks so the
    * pixel bytes sit at analytic offsets (what lets a SQL oracle with no
    * zlib slice pixels out of a real PNG); `filterMode = -1` cycles all
    * five scanline filters for round-trip coverage. */
  def pngEncodeGray8(pixels: Column, width: Column,
      filterMode: Int = 0, stored: Boolean = false): Column =
    graft.functions.Native.pngEncodeGray8(pixels, width, filterMode, stored)

  /** [[pngEncodeGray8]]'s DEPTH edition ([[graft.functions.Native
    * .PngGrayDeepEncode]]): real sub-byte (1/2/4-bit MSB-packed),
    * 16-bit (nonzero planted low byte), and gray+alpha (type 4) PNGs
    * whose decode is a closed form of the input. */
  def pngEncodeGrayDeep(pixels: Column, width: Column, depth: Int,
      grayAlpha: Boolean = false, filterMode: Int = 0): Column =
    graft.functions.Native.pngEncodeGrayDeep(pixels, width, depth, grayAlpha,
      filterMode)

  /** LUMA-plane decode for PNGs, gray OR color OR palette ([[graft
    * .functions.Native.PngLumaDecode]]): color type 0 decodes
    * byte-identically to [[pngDecodeGray8]] (shared core); types 2 (RGB)
    * and 6 (RGBA) convert per pixel with exact-integer ITU-R 601 luma
    * (alpha ignored — dHash is a luminance function); type 3 (palette)
    * expands indices through PLTE into RGB first (tRNS alpha ignored, the
    * RGBA stance); Adam7-interlaced streams of any supported type
    * deinterlace for real. This is the decode a crawl-image dedup
    * pipeline actually needs: real crawl PNGs are overwhelmingly color,
    * and icons/screenshots/charts are overwhelmingly paletted. */
  def pngDecodeLuma(png: Column): Column =
    graft.functions.Native.pngDecodeLuma(png)

  /** [[pngEncodeGray8]]'s PALETTE edition ([[graft.functions.Native
    * .PngPal8Encode]]): palette-index bytes → genuine color-type-3 PNG
    * with the ANALYTIC 256-entry palette (entry i = (i, 255−i, (7·i) mod
    * 256) — a SQL oracle recomputes luma in closed form and can slice the
    * PLTE bytes from their fixed offset 41); `interlace` emits a real
    * Adam7 stream, `trns` adds a 128-entry tRNS chunk whose alpha must
    * never alter the decoded luma. */
  def pngEncodePal8(pixels: Column, width: Column,
      interlace: Boolean = false, trns: Boolean = false, filterMode: Int = 0): Column =
    graft.functions.Native.pngEncodePal8(pixels, width, interlace, trns, filterMode)

  /** [[pngEncodeGray8]]'s COLOR edition ([[graft.functions.Native
    * .PngRgbEncode]]): interleaved RGB (or RGBA with `alpha`) bytes →
    * genuine truecolor PNG; `stored = true` puts the channel bytes at
    * analytic offsets for the SQL oracle, `filterMode = -1` cycles all
    * five scanline filters for round-trip coverage. */
  def pngEncodeRgb(pixels: Column, width: Column,
      filterMode: Int = 0, stored: Boolean = false, alpha: Boolean = false): Column =
    graft.functions.Native.pngEncodeRgb(pixels, width, filterMode, stored, alpha)

  /** REAL WebP pixel decode to the luma plane
    * ([[graft.functions.Native.WebpLumaDecode]]). VP8L lossless: the
    * full public lossless bitstream — prefix codes, color cache, LZ77
    * with the 2D distance map, meta prefix image, all four transforms.
    * Lossy VP8 keyframes: the full RFC 6386 intra decode — boolean
    * decoder, segmentation, token-prob updates, 16x16/B_PRED
    * prediction, IWHT/IDCT, normal+simple loop filters — to the coded
    * BT.601 Y plane; animations decode their FIRST frame (the GIF
    * stance). Null on metadata-only files, inter frames, or damage —
    * those keep landing in the drop report as
    * unsupported_profile/corrupt. */
  def webpDecodeLuma(webp: Column): Column =
    graft.functions.Native.webpDecodeLuma(webp)

  /** Fixture-grade LOSSLESS WebP encode ([[graft.functions.Native
    * .WebpVp8lEncode]]): interleaved RGB/RGBA bytes → a complete
    * RIFF-WEBP container holding the simplest spec-valid VP8L stream
    * (literal-only, canonical 8-bit codes), decodable by any compliant
    * reader. Fixture builder for the WebP tier's oracles. */
  def webpEncodeVp8l(pixels: Column, width: Column, alpha: Boolean = false): Column =
    graft.functions.Native.webpVp8lEncode(pixels, width, alpha)

  /** Fixture-grade LOSSY WebP encode ([[graft.functions.Native
    * .Vp8Encode]]): gray bytes → a complete RIFF-WEBP holding a
    * spec-conformant DC-only VP8 keyframe (per-16x16-MB constants,
    * exact round trip for per-MB-constant images; 1/2/4/8 token
    * partitions). Fixture builder for the lossy-WebP tier's oracles —
    * development-validated against the system libwebp. */
  def webpEncodeVp8(pixels: Column, width: Column, nparts: Int = 1): Column =
    graft.functions.Native.webpVp8Encode(pixels, width, nparts)

  /** REAL GIF (87a/89a) first-frame pixel decode to the exact-integer
    * luma plane ([[graft.functions.Native.GifLumaDecode]]): block walk,
    * GIF-LZW, global/local palettes, 4-pass interlace. Animated GIFs
    * decode frame 0 (the video-tier stance). Null on damage, LZW
    * violations, or a frame with no color table — those land in the
    * drop report as corrupt/unsupported_profile. */
  def gifDecodeLuma(gif: Column): Column =
    graft.functions.Native.gifDecodeLuma(gif)

  /** Fixture-grade GIF89a encode ([[graft.functions.Native
    * .GifGray8Encode]]): row-major gray-8 bytes → a complete spec-valid
    * GIF with a 256-entry grayscale palette (decode∘encode = identity on
    * the gray bytes), optionally interlaced and/or with the palette
    * written as a local color table. Fixture builder for the GIF tier's
    * oracles. */
  def gifEncodeGray8(pixels: Column, width: Column,
      interlace: Boolean = false, localPalette: Boolean = false,
      frames: Int = 1, loop: Int = -1): Column =
    graft.functions.Native.gifEncodeGray8(pixels, width, interlace, localPalette,
      frames, loop)

  /** Structural GIF animation census ([[graft.functions.Native
    * .GifFrameCount]]/[[GifLoopCount]]): frame count over the full block
    * walk and the NETSCAPE2.0 loop count (null when absent) — the
    * static-vs-animated routing signal, computed without any entropy
    * decode. Null structs for structurally-incomplete files. */
  def gifFrameCount(gif: Column): Column = graft.functions.Native.gifFrameCount(gif)
  def gifLoopCount(gif: Column): Column = graft.functions.Native.gifLoopCount(gif)

  /** REAL BMP pixel decode to the exact-integer luma plane ([[graft
    * .functions.Native.BmpLumaDecode]]): 1/2/4/8-bit palette, 24/32-bit
    * BGR(X), 16-bit BI_RGB and 16/32-bit BI_BITFIELDS mask-driven
    * channels, BI_RLE8/RLE4, 4-byte row padding, bottom-up and top-down
    * rows, COREHEADER. Null on BI_JPEG/BI_PNG/OS-2-V2 profiles or
    * damage — those land in the drop report as
    * unsupported_profile/corrupt. */
  def bmpDecodeLuma(bmp: Column): Column =
    graft.functions.Native.bmpDecodeLuma(bmp)

  /** Fixture-grade deep/mask BMP encode ([[graft.functions.Native
    * .BmpDeepEncode]]): mode "rgb555" (16-bit BI_RGB), "bf565" /
    * "bf8888" (BI_BITFIELDS with explicit masks — 8888 in non-BGR
    * order), or "pal2" (2-bit palette). */
  def bmpEncodeDeep(pixels: Column, width: Column, mode: String): Column =
    graft.functions.Native.bmpEncodeDeep(pixels, width, mode)

  /** Fixture-grade BI_JPEG/BI_PNG BMP encode ([[graft.functions.Native
    * .BmpStreamEncode]]): wraps an existing JPEG or PNG stream as the
    * BMP's embedded pixel data (compression 4/5, biBitCount 0). */
  def bmpEncodeStream(stream: Column, png: Boolean): Column =
    graft.functions.Native.bmpEncodeStream(stream, png)

  /** Fixture-grade 8-bit BMP encode ([[graft.functions.Native
    * .BmpGray8Encode]]): row-major gray-8 bytes → a complete BMP with a
    * 256-entry grayscale palette (decode∘encode = identity), bottom-up
    * or top-down by flag, BI_RGB or real BI_RLE8 (encoded runs AND
    * word-aligned absolute packets). Fixture builder for the BMP
    * tier's oracles. */
  def bmpEncodeGray8(pixels: Column, width: Column, topDown: Boolean = false,
      rle: Boolean = false, os2: Boolean = false): Column =
    graft.functions.Native.bmpEncodeGray8(pixels, width, topDown, rle, os2)

  /** REAL TIFF pixel decode to the exact-integer luma plane
    * ([[graft.functions.Native.TiffLumaDecode]]): both byte orders,
    * the IFD walk, STRIP and §15 TILE addressing, 1/2/4/8-bit gray
    * (either polarity) / palette-color (ColorMap), 8-bit RGB(A with
    * ExtraSamples) including planar-2 strips, 16-bit gray/RGB
    * (high-byte reduction), uncompressed, PackBits, LZW (§13
    * MSB-first, early width change) or Deflate, each optionally under
    * the §14 horizontal-differencing Predictor, the full CCITT
    * bilevel family (G4 MMR, G3-1D MH, T.4 1-D/2-D), and
    * Compression-7 new-JPEG incl. JPEGTables. Null on Compression-6/
    * 16-bit-palette/CMYK-shaped/uncompressed-option profiles or
    * damage. */
  def tiffDecodeLuma(tiff: Column): Column =
    graft.functions.Native.tiffDecodeLuma(tiff)

  /** Fixture-grade single-strip baseline TIFF encode ([[graft.functions
    * .Native.TiffGray8Encode]]): row-major gray-8 bytes → a complete
    * BlackIsZero TIFF in either byte order (decode∘encode = identity),
    * PackBits-, LZW- or Deflate-compressed, optionally differenced
    * (Predictor 2). Fixture builder for the TIFF tier's oracles. */
  def tiffEncodeGray8(pixels: Column, width: Column, bigEndian: Boolean = false,
      packBits: Boolean = false, lzw: Boolean = false, deflate: Boolean = false,
      predictor: Boolean = false): Column = {
    require(Seq(packBits, lzw, deflate).count(identity) <= 1,
      "at most one of packBits/lzw/deflate")
    val compression = if (packBits) 32773 else if (lzw) 5 else if (deflate) 8 else 1
    graft.functions.Native.tiffEncodeGray8(pixels, width, bigEndian, compression, predictor)
  }

  /** Fixture-grade palette-color / 16-bit / tiled TIFF encode ([[graft
    * .functions.Native.TiffDeepEncode]]): mode "pal8" (ColorMap lookup),
    * "gray16" (high-byte reduction, planted nonzero low byte) or
    * "tiles8" (§15 TILE addressing, 16×16 zero-padded edge tiles),
    * either byte order. */
  def tiffEncodeDeep(pixels: Column, width: Column, bigEndian: Boolean = false,
      mode: String = "pal8"): Column =
    graft.functions.Native.tiffEncodeDeep(pixels, width, bigEndian, mode)

  /** Fixture-grade CCITT bilevel TIFF encode ([[graft.functions.Native
    * .TiffG4Encode]]): gray-8 bytes thresholded at 128 (v < 128 = black
    * ink) → a real WhiteIsZero TIFF (rowsPerStrip 0 = single strip),
    * either byte order, coding "g4" (Compression-4 T.6 MMR), "mh"
    * (Compression-2 byte-aligned Modified Huffman), "t4" (Compression-3
    * EOL-framed 1-D) or "t42d" (Compression-3 mixed 1-D/2-D with tag
    * bits). */
  def tiffG4Encode(pixels: Column, width: Column, bigEndian: Boolean = false,
      rowsPerStrip: Int = 0, coding: String = "g4"): Column =
    graft.functions.Native.tiffG4Encode(pixels, width, bigEndian, rowsPerStrip, coding)

  /** Fixture-grade TIFF-EP "new JPEG" (Compression 7) encode ([[graft
    * .functions.Native.TiffJpegEncode]]): wraps an existing JPEG stream
    * as the single strip; `split` moves DQT/DHT into the JPEGTables tag
    * (the libtiff-default abbreviated layout). */
  def tiffJpegEncode(jpeg: Column, bigEndian: Boolean = false,
      split: Boolean = false): Column =
    graft.functions.Native.tiffJpegEncode(jpeg, bigEndian, split)

  /** REAL baseline-JPEG pixel decode ([[graft.functions.Native
    * .JpegGray8Decode]]): single-component (grayscale) SOF0 JPEG bytes →
    * row-major grayscale-8 bitmap via full Huffman + dequant + IDCT,
    * null on anything out of contract (progressive, color, truncated,
    * bad restart sequence). With [[pngDecodeGray8]] this covers both
    * crawl image formats the JDK's primitives can reach; AVIF stays
    * behind the [[decodePartitions]] codec boundary. */
  def jpegDecodeGray8(jpeg: Column): Column =
    graft.functions.Native.jpegDecodeGray8(jpeg)

  /** Fixture-grade baseline-JPEG ENCODE (real SOI/DQT/SOF0/DHT/DRI/SOS
    * segments, Huffman-coded scan, restart markers, EOI): grayscale-8
    * bitmap → genuine JPEG bytes any compliant reader decodes, each 8×8
    * block encoded DC-only. Single-code Huffman tables + restart
    * interval 1 pin every MCU to an aligned 2-byte cell, so block DCs
    * sit at analytic byte offsets (the stored-PNG move, JPEG edition —
    * what lets a SQL oracle with no Huffman decoder verify real JPEG
    * decode). Block means must land in [1,64] ∪ [192,255] (DC category
    * 7); see the expression scaladoc. */
  def jpegEncodeGray8Dc(pixels: Column, width: Column,
      deep: Boolean = false): Column =
    graft.functions.Native.jpegEncodeGray8Dc(pixels, width, deep)

  /** LUMA-plane decode for JPEGs, gray OR color, baseline OR progressive
    * ([[graft.functions.Native.JpegLumaDecode]]): 1-component baseline
    * files decode exactly like [[jpegDecodeGray8]] (shared core);
    * 3-component YCbCr at any mainstream subsampling (4:4:4 / 4:2:2 /
    * 4:4:0 / 4:2:0) yields the full-resolution Y plane with chroma
    * entropy-skipped; PROGRESSIVE (SOF2) streams decode through the full
    * T.81 Annex G machinery — spectral selection, successive
    * approximation, EOB runs, refinement correction bits — with
    * chroma-only AC scans skipped wholesale (a marker seek, zero entropy
    * work). This is the decode a crawl-image dedup pipeline actually
    * needs: real crawls are overwhelmingly color JPEG, a double-digit
    * share of it progressive, and dHash is a luminance function. */
  def jpegDecodeLuma(jpeg: Column): Column =
    graft.functions.Native.jpegDecodeLuma(jpeg)

  /** Fixture-grade PROGRESSIVE-JPEG ENCODE ([[graft.functions.Native
    * .JpegProgGray8Encode]]): grayscale-8 bitmap → genuine SOF2 JPEG with
    * five real scans (DC first at Al=1, DC refinement, two banded AC
    * first scans, one AC refinement), every AC scan greedy EOB-run coded.
    * Same DC-only block model and [1,64] ∪ [192,255] block-mean contract
    * as [[jpegEncodeGray8Dc]] — per-block-constant bitmaps decode
    * bit-exactly, which is what makes the progressive tier hash-oraclable. */
  def jpegEncodeGray8Prog(pixels: Column, width: Column): Column =
    graft.functions.Native.jpegEncodeGray8Prog(pixels, width)

  /** Fixture-grade COLOR (YCbCr) baseline-JPEG ENCODE ([[graft.functions
    * .Native.JpegYccEncodeDc]]): luma bitmap + constant chroma planes →
    * genuine 3-component JPEG bytes at the chosen subsampling, every
    * block DC-only and byte-aligned so luma DCs sit at analytic byte
    * offsets (stride 2·(hSamp·vSamp+2)+2 from the 173-byte header) — what
    * lets a SQL oracle verify real COLOR JPEG decode with no Huffman
    * decoder. Per-MCU-constant luma contract; see the expression
    * scaladoc. */
  def jpegEncodeYccDc(pixels: Column, width: Column,
      hSamp: Int, vSamp: Int, cb: Int = 128, cr: Int = 128): Column =
    graft.functions.Native.jpegEncodeYccDc(pixels, width, hSamp, vSamp, cb, cr)

  /** Frame-sample positions for a media payload of `durationMs`, every
    * `everyMs` — the pure-Spark plumbing of a video frame sampler (the
    * per-position pixel grab is codec work, see [[decodeImageStub]]). */
  def framePositionsMs(durationMs: Column, everyMs: Long): Column =
    // zero-length media yields no frames (an unguarded sequence(0, -1, +step) throws)
    when(durationMs > 0, sequence(lit(0L), durationMs - 1, lit(everyMs)))
      .otherwise(array().cast("array<bigint>"))

  /** Assemble the canonical multimodal training sample: doc fields + media
    * binary with its metadata + embedding, one struct row per doc. The
    * join is keyed (doc_id = vec_id) so Catalyst plans a shuffle-keyed or
    * broadcast equi-join — no payload ever crosses the network more than
    * once. */
  /** Corpus-level audio inventory — the decode→aggregate composition a
    * multimodal pipeline runs before mixing audio into training data:
    * decode every clip's header ([[wavMeta]], map-side, no codec), then
    * roll up per (source, sample_rate) — clip count, total payload
    * bytes, total duration. This is the table that answers "how many
    * hours of 16 kHz audio does source X actually have" without touching
    * sample data. Scale shape: header decode fuses into the scan, the
    * rollup is ONE partial-agg'd groupBy keyed by (source,
    * sample_rate) — low cardinality, so the shuffle is bounded by the
    * key space, not the corpus. Integer sums only (no double
    * accumulation ambiguity). `clips` carries (source, wav BINARY);
    * undecodable payloads group under sample_rate NULL so corruption is
    * visible in the report rather than silently dropped. */
  def audioReport(clips: DataFrame): DataFrame =
    clips
      .select(col("source"), wavMeta(col("wav")).as("m"),
        // ACTUAL payload bytes, not the header-declared data size: a
        // corrupt clip decodes to a null struct but its bytes are still
        // real (the report exists to show how much data is corrupt — a
        // NULL sum_bytes on the sample_rate=NULL group hides exactly
        // that), and a lying header cannot skew the valid groups either
        length(col("wav")).cast("bigint").as("nb"))
      .select(col("source"), col("m.sample_rate").as("sample_rate"),
        col("nb"), col("m.duration_ms").as("dm"))
      .groupBy("source", "sample_rate")
      .agg(
        count(lit(1)).cast("bigint").as("n_clips"),
        sum(col("nb")).cast("bigint").as("sum_bytes"),
        sum(col("dm")).cast("bigint").as("sum_duration_ms"))

  def assembleSamples(documents: DataFrame, media: DataFrame, embeddings: DataFrame): DataFrame =
    documents
      .join(media, Seq("doc_id"))
      .join(embeddings.withColumnRenamed("vec_id", "doc_id"), Seq("doc_id"))
      .select(
        col("doc_id"),
        struct(col("text"), col("media"), mediaMeta(col("media")).as("meta"),
          col("embedding")).as("sample"))

  /** REAL PCM sample decode for canonical 16-bit WAV ([[graft.functions
    * .Native.WavPcm16Stats]]): one map-side pass over the int16 stream →
    * integer audio-quality aggregates (sample count, peak, Σ|s|, Σs²,
    * clipped count, sub-threshold count). [[wavMeta]] reads the header;
    * this reads the AUDIO — the third modality tier to get a real
    * byte-level decode after PNG and JPEG. Default threshold 328 ≈ 1% of
    * full scale (−40 dBFS), the usual dead-air line. */
  def wavPcm16Stats(wav: Column, silenceThreshold: Int = 328): Column =
    graft.functions.Native.wavPcm16Stats(wav, silenceThreshold)

  /** Fixture-grade Motion-JPEG AVI ENCODE ([[graft.functions.Native
    * .AviMjpegEncode]]): array of baseline-JPEG frame payloads → a real
    * RIFF 'AVI ' container (hdrl with avih + 'vids'/'MJPG' stream
    * headers, movi LIST of '00dc' chunks). MJPEG frames are standalone
    * JPEGs, so this plus [[jpegDecodeLuma]] is a complete video pixel
    * path with no codec library. */
  def aviMjpegEncode(frames: Column, width: Int, height: Int, fps: Int = 25): Column =
    graft.functions.Native.aviMjpegEncode(frames, width, height, fps)

  /** REAL AVI container walk ([[graft.functions.Native.AviMjpegFrames]]):
    * hop top-level chunks to the movi LIST and return the video-frame
    * chunk payloads ('##dc'/'##db') as ARRAY<BINARY> — for MJPEG each
    * element is a standalone baseline JPEG. Null off contract; output
    * capped at `maxFrames` (bomb guard). */
  def aviMjpegFrames(avi: Column, maxFrames: Int = 4096): Column =
    graft.functions.Native.aviMjpegFrames(avi, maxFrames)

  /** [[aviMjpegEncode]]'s ISO-BMFF sibling ([[graft.functions.Native
    * .Mp4MjpegEncode]]): frames → a real, complete MP4 with a FULL sample
    * table (stsd/stts/stsc/stsz/stco), one chunk per frame so the walker
    * cannot shortcut the tables. Fixture builder for [[mp4MjpegFrames]]. */
  def mp4MjpegEncode(frames: Column, width: Int, height: Int, fps: Int = 25,
      format: String = "jpeg"): Column =
    graft.functions.Native.mp4MjpegEncode(frames, width, height, fps, format)

  /** REAL ISO-BMFF walk ([[graft.functions.Native.Mp4MjpegFrames]]): MP4
    * bytes → the MJPEG track's frame payloads as ARRAY<BINARY>, resolved
    * through the real stsc×stco/co64×stsz sample tables — the container
    * real crawl video actually ships in. Null off contract; output capped
    * at `maxFrames` (bomb guard). */
  def mp4MjpegFrames(mp4: Column, maxFrames: Int = 4096): Column =
    graft.functions.Native.mp4MjpegFrames(mp4, maxFrames)

  /** Fixed-width video fingerprint: sample `nSample` frames evenly across
    * the clip (index k·n/nSample — length-normalized, so a re-muxed copy
    * with the same content samples the same frames), luma-decode each
    * ([[jpegDecodeLuma]]) and dHash it, yielding ARRAY<BIGINT>(nSample) —
    * a 64·nSample-bit signature in exactly the wide-signature layout
    * [[graft.operators.Dedup.hammingNearDup]] bands. All-or-nothing: a
    * clip with fewer than nSample frames or any undecodable sampled
    * frame yields null (it cannot be fingerprinted, not a zero-distance
    * match). Map-side only — the container walk, decodes, and hashes all
    * fuse into the payload scan. */
  def videoFrameSigs(avi: Column, width: Int, height: Int, nSample: Int): Column = {
    // same walk cap AND the same container dispatch as the fused native
    // form: the sampling index k·n/nSample depends on the frame COUNT, so
    // a smaller cap (or a single-container walk) would make the two
    // bit-equal-pinned forms diverge
    val frames = when(substring(avi, 1, 4).cast("string") === "RIFF",
      aviMjpegFrames(avi, graft.functions.Native.ClipMaxFrames))
      .otherwise(mp4MjpegFrames(avi, graft.functions.Native.ClipMaxFrames))
    val n = size(frames)
    val sig = transform(sequence(lit(0), lit(nSample - 1)),
      k => dHash(jpegDecodeLuma(
        element_at(frames, (floor(k * n / nSample) + 1).cast("int"))), width, height))
    when(frames.isNotNull && n >= nSample && !exists(sig, _.isNull), sig)
      .otherwise(lit(null).cast("array<bigint>"))
  }

  /** One-pass native form of [[videoFrameSigs]] ([[graft.functions.Native
    * .MjpegClipSig]]): same sampling, decode, and null contract, but as a
    * single codegen-participating scalar so the banded join's many
    * signature references collapse to ONE walk + nSample decodes per row
    * (the composed HOF form re-evaluates its whole subtree per reference
    * — measured ~100 walks/row on the sf0.1 corpus; MultimodalSpec pins
    * the two forms bit-equal). */
  def mjpegClipSig(avi: Column, width: Int, height: Int, nSample: Int): Column =
    graft.functions.Native.mjpegClipSig(avi, width, height, nSample)

  /** Video near-dup on REAL MJPEG payloads in EITHER crawl container
    * (AVI or MP4 — the signature expression dispatches on the magic, so
    * one relation can mix both and a re-MUXED copy still pairs), end-to-
    * end — the VIDEO sibling of the image/audio tiers: container walk →
    * evenly-sampled
    * frame luma decodes → per-frame dHash → ONE wide Hamming signature
    * (64·nSample bits) through the shared banded-LSH core. With the
    * default maxHamming = nSample−1 each band is exactly one sampled
    * frame's dHash, so candidate blocking reads as "some sampled frame
    * matches bit-for-bit", then the full-signature Hamming verify
    * tolerates per-frame re-encode jitter. Catches re-keyed/re-muxed
    * copies of the same footage; it is a duplicate detector, not a
    * scene-level matcher. Undecodable clips drop at the scan; only the
    * nSample-long signatures band. */
  def videoNearDup(clips: DataFrame, width: Int, height: Int, nSample: Int = 4,
      maxHamming: Int = 3, maxBucketSize: Int = 64): DataFrame = {
    require(nSample >= 2, s"nSample must be >= 2 (wide signature), got $nSample")
    require(maxHamming + 1 >= nSample,
      s"maxHamming must be >= nSample - 1 so every band fits one 64-bit word " +
        s"(got maxHamming=$maxHamming, nSample=$nSample)")
    Dedup.signedNearDup(clips,
      videoNearDupSig(col("avi"), width, height, nSample),
      maxHamming, maxBucketSize, sigBits = 64 * nSample)
  }

  /** [[videoNearDup]]'s wide signature expression (see [[imageNearDupSig]]
    * for the sign-once contract); band it with
    * `hammingNearDup(..., sigBits = 64 * nSample)`. */
  def videoNearDupSig(media: Column, width: Int, height: Int, nSample: Int): Column =
    graft.functions.Native.opaque(mjpegClipSig(media, width, height, nSample))

  /** Length-normalized energy-envelope fingerprint front-end ([[graft
    * .functions.Native.WavEnvelope]]): PCM sample stream → nBuckets-byte
    * loudness contour, laid out so [[dHash]] consumes it as a bitmap. */
  def wavEnvelope(wav: Column, nBuckets: Int = 72): Column =
    graft.functions.Native.wavEnvelope(wav, nBuckets)

  /** Audio near-dup signature, the AUDIO sibling of [[imageNearDupSig]]:
    * decode a PCM WAV into a 72-bucket energy envelope ([[wavEnvelope]]),
    * hash the envelope as a 9×8 bitmap ([[dHash]] — one grid cell per
    * bucket, so the signature reacts to the loudness CONTOUR, not absolute
    * gain bytes). Band it with [[graft.operators.Dedup.signedNearDup]]:
    * it catches re-encoded or re-keyed copies of the same recording (same
    * contour); it is a duplicate detector, not a cover-song matcher. FLAC
    * payloads sign as `audioNearDupSig(flacDecodeWav(flac))`, so a WAV and
    * its lossless FLAC encode hash identically. Undecodable or too-short
    * clips sign NULL and drop at the scan. */
  def audioNearDupSig(wav: Column): Column =
    graft.functions.Native.opaque(dHash(wavEnvelope(wav, 72), 9, 8))

  /** Normalize ANY in-contract WAV profile to the canonical 16-bit-PCM
    * layout ([[graft.functions.Native.WavCanonical]]): 8/24/32-bit
    * integer PCM, IEEE float32, IMA ADPCM, WAVE_FORMAT_EXTENSIBLE and
    * chunk-reordered files all land on the exact contract [[wavMeta]],
    * [[wavPcm16Stats]] and [[wavEnvelope]] consume (those three already
    * canonicalize internally — this surfaces the normalized bytes
    * themselves). Null off contract. */
  def wavCanonical(wav: Column): Column =
    graft.functions.Native.wavCanonical(wav)

  /** Fixture-grade extended-profile WAV encode ([[graft.functions
    * .Native.WavProfileEncode]]): canonical PCM16 → a real pcm8 / pcm24
    * / pcm32 / float32 / float64 / extensible / fmt18 WAV whose
    * canonicalized output is a closed form of the input. */
  def wavProfileEncode(pcm16: Column, channels: Column, rate: Int,
      profile: String): Column =
    graft.functions.Native.wavProfileEncode(pcm16, channels, rate, profile)

  /** Fixture-grade mono IMA-ADPCM WAV builder ([[graft.functions.Native
    * .ImaAdpcmWavEncode]]) wrapping PLANTED nibble bytes — decoded by
    * the real step-table walk, restatable by an independent SQL
    * implementation. */
  def imaAdpcmWav(nibbleData: Column, initIndex: Column, rate: Int,
      blockAlign: Int): Column =
    graft.functions.Native.imaAdpcmWav(nibbleData, initIndex, rate, blockAlign)

  /** Fixture-grade mono Microsoft-ADPCM WAV builder ([[graft.functions
    * .Native.MsAdpcmWavEncode]]) wrapping PLANTED nibble bytes behind
    * closed-form block headers — decoded by the real coefficient/
    * adaptation walk, restatable by an independent SQL implementation. */
  def msAdpcmWav(nibbleData: Column, initPred: Column, rate: Int,
      blockAlign: Int): Column =
    graft.functions.Native.msAdpcmWav(nibbleData, initPred, rate, blockAlign)

  /** REAL FLAC frame decode to a canonical PCM16 WAV ([[graft.functions
    * .Native.FlacDecodeWav]]): metadata walk, CRC-checked frame headers,
    * CONSTANT/VERBATIM/FIXED/LPC subframes, Rice residuals with escapes
    * and wasted bits, stereo decorrelation. Lossless — decode ∘ encode is
    * byte-exact. The output rides the existing WAV tier unchanged. */
  def flacDecodeWav(flac: Column): Column =
    graft.functions.Native.flacDecodeWav(flac)

  /** Fixture-grade FLAC ENCODE ([[graft.functions.Native
    * .FlacPcm16Encode]]): interleaved LE PCM16 bytes → a genuine FLAC
    * stream (true STREAMINFO, fixed-blocksize frames, CRC-8/CRC-16,
    * CONSTANT/VERBATIM/FIXED-order-2 subframes with real Rice coding). */
  def flacEncodePcm16(samples: Column, channels: Column,
      rate: Int, blockSize: Int = 1024): Column =
    graft.functions.Native.flacEncodePcm16(samples, channels, rate, blockSize)

  /** Audio-quality gate — the per-clip screen a speech/multimodal
    * pipeline runs BEFORE paying for transcription or feature
    * extraction: decode PCM stats in the scan ([[wavPcm16Stats]]), derive
    * clip/silence fractions and RMS, and gate on all three. Clips that
    * don't decode (corrupt, non-PCM, non-16-bit) FAIL the gate with null
    * stats rather than disappearing — the drop report must see them.
    * Thresholds are the published-ish defaults (≤1% clipped, ≤90%
    * silence, RMS ≥ 100 ≈ −50 dBFS); `passes` is computed in INTEGER
    * arithmetic (n_clipped·100 ≤ n, n_silent·10 ≤ 9n, Σs² ≥ n·minRms²)
    * so the verdict is exact and engine-portable. Scale shape: map-side
    * only, no shuffle — the gate fuses into the payload scan. */
  def audioQualityGate(clips: DataFrame, maxClipPct: Int = 1,
      maxSilentPctX10: Int = 900, minRms: Int = 100,
      silenceThreshold: Int = 328): DataFrame = {
    val s = wavPcm16Stats(col("wav"), silenceThreshold)
    clips
      .withColumn("stats", s)
      .select(clips.columns.map(col) :+
        col("stats.n_samples").as("n_samples") :+
        col("stats.peak_abs").as("peak_abs") :+
        col("stats.sum_abs").as("sum_abs") :+
        col("stats.sum_sq").as("sum_sq") :+
        col("stats.n_clipped").as("n_clipped") :+
        col("stats.n_silent").as("n_silent"): _*)
      .withColumn("passes",
        col("n_samples").isNotNull && col("n_samples") > 0 &&
          col("n_clipped") * 100 <= col("n_samples") * maxClipPct &&
          col("n_silent") * 1000 <= col("n_samples") * maxSilentPctX10 &&
          col("sum_sq") >= col("n_samples") * (minRms.toLong * minRms))
  }
}
