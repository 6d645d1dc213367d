package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video payloads ride as opaque
  * `binary` columns with typed metadata; decode / feature-extract /
  * frame-sample are per-row transforms over those bytes.
  *
  * Header DECODE is real: [[graft.functions.MediaKernels.decodeHeaderCol]]
  * parses actual PNG IHDR / JPEG SOFn (with the marker-segment walk) / WAV
  * RIFF `fmt ` container headers in one codegen'd pass — no codec needed,
  * only the formats' public byte layouts. The test tables carry no media, so
  * [[withMediaPayload]] synthesizes payloads with VALID container headers
  * (real PNG CRC included) in front of the document bytes; pixel/sample
  * decode and the feature-embedding model remain out of scope (the libs are
  * not in this container) — [[fakeFeaturesFromChecksum]] stands in for the
  * embedder, clearly marked.
  *
  * Scale notes: payload bytes never shuffle — metadata extraction is
  * map-side; frame explosion multiplies rows but projects the payload away
  * in the same select. For real media at 100 TB, bucket by content-id so
  * decode+extract stay within one task per asset.
  */
object Multimodal {

  /** Attach a binary payload column built from text (stand-in for real media
    * bytes in the test tables).
    */
  def withPayload(df: DataFrame, textCol: String = "text"): DataFrame =
    df.withColumn("payload", encode(col(textCol), "UTF-8"))

  /** Synthesize a binary payload with a REAL container header in front of
    * the document bytes, format round-robin by id: `id % 3` = 0 → PNG,
    * 1 → JPEG, 2 → WAV. Every header field a sniffer reads is derived
    * deterministically from the id, so the DuckDB oracle can rebuild the
    * identical bytes in hex and replay the identical offset-chained reads:
    *
    *  - PNG: signature + a spec-complete IHDR (width/height 4-byte BE, bit
    *    depth 8, color type 6 = RGBA) with its REAL CRC-32 over type+data
    *    (the one field the oracle zeroes — nothing a sniffer reads depends
    *    on it, and `crc32` is not available in the oracle engine).
    *  - JPEG: SOI + a standard 16-byte JFIF APP0 + a COM segment whose
    *    length VARIES with the id (so finding SOF0 requires genuinely
    *    chaining segment-length reads) + SOF0 (precision 8, 3 components).
    *  - WAV: RIFF/WAVE with a correct riff-size field; even ids interpose a
    *    JUNK chunk of varying even size before `fmt ` (so the parse must
    *    walk, not assume offsets); channels/rate/bits all little-endian,
    *    with consistent byte-rate and block-align.
    */
  def withMediaPayload(df: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val id = col(idCol).cast("long")
    def beHex(v: Column, n: Int): Column = lpad(hex(v.cast("long")), 2 * n, "0")
    def leHex(v: Column, n: Int): Column = {
      val be = beHex(v, n)
      concat(((n - 1) to 0 by -1).map(i => substring(be, 2 * i + 1, 2)): _*)
    }
    val w = lit(16) + (id * 37) % 4080
    val h = lit(16) + (id * 53) % 3056

    val ihdrData = concat(beHex(w, 4), beHex(h, 4), lit("0806000000"))
    val pngHex = concat(
      lit("89504E470D0A1A0A" + "0000000D" + "49484452"), ihdrData,
      beHex(crc32(unhex(concat(lit("49484452"), ihdrData))), 4))

    val jpegHex = concat(
      lit("FFD8" + "FFE00010" + "4A46494600" + "0101" + "00" + "00010001" + "0000" + "FFFE"),
      beHex(lit(2) + id % 23, 2),
      expr(s"repeat('63', CAST($idCol % 23 AS INT))"),
      lit("FFC00011" + "08"), beHex(h, 2), beHex(w, 2),
      lit("03" + "012200" + "021101" + "031101"))

    val ch = lit(1) + id % 2
    val rate = lit(8000) + (id % 5) * 8000
    val bits = (lit(1) + (id % 7) % 2) * 8
    val blen = octet_length(encode(col(textCol), "UTF-8")).cast("long")
    val junk = (id % 11) * 2
    val hasJunk = id % 2 === 0
    val wavHex = concat(
      lit("52494646"),
      leHex(lit(4 + 24 + 8) + blen + when(hasJunk, junk + 8).otherwise(lit(0)), 4),
      lit("57415645"),
      when(hasJunk,
        concat(lit("4A554E4B"), leHex(junk, 4), expr(s"repeat('6A', CAST(($idCol % 11) * 2 AS INT))")))
        .otherwise(lit("")),
      lit("666D7420" + "10000000" + "0100"), leHex(ch, 2), leHex(rate, 4),
      leHex(rate * ch * bits / 8, 4), leHex(ch * bits / 8, 2), leHex(bits, 2),
      lit("64617461"), leHex(blen, 4))

    val headerHex = when(id % 3 === 0, pngHex).when(id % 3 === 1, jpegHex).otherwise(wavHex)
    df.withColumn("payload", concat(unhex(headerHex), encode(col(textCol), "UTF-8")))
  }

  /** Synthesized PPM (P6) image width/height — 18×16 pools 2×2-exactly onto
    * the [[graft.functions.ImageKernels]] 9×8 dHash grid, so the fixture
    * exercises real average pooling, not a degenerate 1-pixel-per-cell
    * identity.
    */
  val PpmW = 18
  val PpmH = 16

  /** Synthesize a REAL uncompressed PPM (P6) image payload per row for the
    * perceptual-dedup path: ids cluster in groups of four variants of one
    * base picture (`group = id / 4`, `variant = id % 4`), grayscale
    * (R = G = B, so ITU-601 integer luminance is exactly the byte value),
    * with luminance CONSTANT WITHIN each 2×2 dHash cell (the pooled sum is
    * then exactly 4× the cell byte — pooling over unequal pixels is proven
    * separately in ImageKernelsSpec, and one md5 per CELL instead of per
    * pixel keeps the interpreted higher-order synthesis lambda 4× cheaper;
    * `transform` lambdas never enter whole-stage codegen):
    *
    *  - the base cell field is the first md5 byte of
    *    `"<group>_<cx>_<cy>"` — an iid-uniform field PER GROUP, so
    *    distinct groups get near-independent dHashes (cross-group Hamming
    *    ~ Binomial(64, ½): never a pair) and band keys spread uniformly; a
    *    smooth arithmetic field would collapse thousands of groups onto
    *    one dHash (adjacent-cell comparisons are shift-invariant) and
    *    blow the pair set up quadratically;
    *  - variant 1 brightens only the top-left dHash cell (flips ≤ 1 bit:
    *    that cell sits in exactly one horizontal comparison);
    *  - variant 2 brightens the top-left and bottom-right cells (≤ 2 bits);
    *  - variant 3 overlays a cell checkerboard (scrambles many bits — a
    *    DIFFERENT picture that shares the group's low-frequency layout).
    *
    * Every byte is a deterministic integer function of (id, cx, cy), so
    * the DuckDB oracle replays the identical cell field from the formula —
    * the two-independent-implementations discipline (`text_nfc_audit`):
    * Spark fingerprints the DECODED BYTES through the codegen'd parser,
    * the oracle recomputes from arithmetic, and a hash match proves the
    * whole decode+pool+compare pipeline.
    */
  def withPpmPayload(df: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val id = col(idCol).cast("long")
    // one codegen'd pass per row ([[graft.functions.MediaSynth.PpmPayload]]
    // — 72 cell md5s written straight into the raster) replacing the
    // interpreted nested-`transform` hex assembly, byte-identical
    // (`MultimodalSynthSpec.ppmPayloadInterpreted` pins it,
    // including the null-id header-only edge the guard reproduces)
    df.withColumn("payload",
      when(id.isNull, lit(graft.functions.MediaSynth.PpmHeader))
        .otherwise(graft.functions.MediaSynth.ppmPayloadCol(id)))
  }

  /** Synthesized WAV geometry: 65 energy windows × 8 samples each — the
    * [[graft.functions.AudioKernels.Windows]] grid with real (non-identity)
    * windowing, 16-bit PCM mono.
    */
  val WavSamplesPerWindow = 8
  private val Windows65 = 65
  val WavSamples = Windows65 * WavSamplesPerWindow

  /** Synthesize a REAL 16-bit PCM WAV payload per row for the perceptual
    * AUDIO dedup path — the [[withPpmPayload]] group/variant structure, one
    * dimension down: ids cluster in groups of four takes of one recording
    * (`group = id / 4`, `variant = id % 4`), each a 65-window envelope
    * whose per-window amplitude is the first 3 md5 hex digits of
    * `"<group>_<window>"` (0..4095 — an iid series per group, so distinct
    * groups never collide). All samples in a window carry the amplitude,
    * so window ENERGY is 8× amplitude and the energy comparisons replay
    * from the amplitude formula alone:
    *
    *  - variant 1 boosts only window 0 (flips ≤ 1 envelope bit);
    *  - variant 2 boosts windows 0 and 64 (≤ 2 bits);
    *  - variant 3 draws a FRESH md5 series (salt `_x`) — a different
    *    recording entirely.
    */
  def withWavPayload(df: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val id = col(idCol).cast("long")
    // codegen'd envelope synthesis ([[graft.functions.MediaSynth
    // .WavPayload]]) replacing the interpreted per-window `transform` hex
    // assembly — byte-identical (`MultimodalSynthSpec.wavPayloadInterpreted`,
    // null-id header-only edge included)
    df.withColumn("payload",
      when(id.isNull, lit(graft.functions.MediaSynth.WavHeader))
        .otherwise(graft.functions.MediaSynth.wavPayloadCol(id)))
  }

  /** STUB feature extractor: a deterministic `dim`-component vector in
    * [-0.5, 0.5) derived from the payload checksum — component j is the
    * unsigned first-8-hex of md5(checksum || "_j") / 2^32 - 0.5 (the
    * [[graft.functions.VectorFunctions.planeComponent]] derivation, applied
    * per row). A real implementation swaps this for an image/audio embedding
    * model over the decoded media; everything downstream — ANN search,
    * embedding near-dup — composes unchanged (see the `mm_feature_knn`
    * query: payload → features → cosine top-k, oracle-verified end-to-end).
    * Pass an already-projected checksum column so the payload md5 is
    * computed once, not once per component.
    */
  def fakeFeaturesFromChecksum(checksum: Column, dim: Int): Column =
    array((0 until dim).map { j =>
      conv(substring(md5(concat(checksum, lit(s"_$j"))), 1, 8), 16, 10)
        .cast("double") / lit(4294967296.0) - lit(0.5)
    }: _*)

  /** Synthesize a REAL animated GIF89a container per row for the frame
    * iteration path ([[graft.functions.VideoKernels]]): spec-complete
    * logical screen descriptor, `1 + id % 6` frames each announced by a
    * graphic-control extension carrying its delay, image descriptors with
    * real geometry, length-prefixed data sub-blocks (arbitrary bytes — no
    * LZW decode reads them), and the trailer. Even ids carry a GLOBAL
    * color table and odd FRAMES a LOCAL one, so the walk must actually
    * skip tables by their descriptor bits — assumed offsets break.
    * Every field is a deterministic integer function of (id, frame), so
    * the oracle replays the metadata from arithmetic while Spark walks
    * the real bytes (the [[withPpmPayload]] discipline).
    */
  def withGifPayload(df: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val id = col(idCol).cast("long")
    def le16(v: Column): Column =
      concat(lpad(hex(pmod(v, lit(256L))), 2, "0"), lpad(hex((v / 256L).cast("long")), 2, "0"))
    val w = lit(16L) + pmod(id * 29L, lit(1000L))
    val h = lit(16L) + pmod(id * 41L, lit(800L))
    val nFrames = (lit(1L) + pmod(id, lit(6L))).cast("int")
    val hasGct = pmod(id, lit(2L)) === 0L
    val screen = concat(
      lit("474946383961"), // GIF89a
      le16(w), le16(h),
      when(hasGct, lit("81")).otherwise(lit("00")), // packed: GCT flag + size 1 (12 bytes)
      lit("0000"), // background, aspect
      when(hasGct, lit("1C2D3E" * 4)).otherwise(lit(""))) // 12-byte global table
    val frames = array_join(
      transform(sequence(lit(0), nFrames - 1), { f =>
        val delay = lit(4L) + pmod(id * 7L + f.cast("long") * 3L, lit(96L))
        val hasLct = pmod(f, lit(2)) === 1
        val dataLen = (lit(1L) + pmod(id + f.cast("long"), lit(5L))).cast("int")
        concat(
          lit("21F904" + "00"), le16(delay), lit("00" + "00"), // GCE + terminator
          lit("2C"), lit("0000" * 2), le16(w), le16(h), // descriptor: left, top, w, h
          when(hasLct, lit("81")).otherwise(lit("00")),
          when(hasLct, lit("4F5E6D" * 4)).otherwise(lit("")), // 12-byte local table
          lit("02"), // LZW minimum code size
          lpad(hex(dataLen), 2, "0"), repeat(lit("AB"), dataLen), lit("00")) // one sub-block
      }), "")
    df.withColumn("payload", unhex(concat(screen, frames, lit("3B"))))
  }

  /** STUB frame sampler: split the payload into fixed-size "frames"
    * (`frameBytes` chunks) and hash each — the layout a real video
    * frame-sampler produces: one row per frame, payload projected away.
    *
    * Frames are addressed by BYTES (binary semantics, multi-byte-safe); the
    * fingerprint is md5 over the frame's UPPERCASE HEX encoding — a 1:1
    * function of the frame bytes that both engines can compute byte-exactly
    * (this DuckDB build has no blob slicing or md5(BLOB), but hex is pure
    * ASCII, so the oracle's varchar substr IS a byte slice of hex pairs).
    */
  def frameHashes(df: DataFrame, frameBytes: Int = 256, idCol: String = "doc_id"): DataFrame =
    df.withColumn("n_bytes", length(col("payload")).cast("long"))
      .withColumn(
        "frame_no",
        explode(sequence(
          lit(0),
          ceil(col("n_bytes").cast("double") / frameBytes).cast("int") - 1)))
      .withColumn(
        "frame_hash",
        md5(hex(expr(s"substring(payload, frame_no * $frameBytes + 1, $frameBytes)"))))
      .select(col(idCol), col("n_bytes"), col("frame_no").cast("long").as("frame_no"), col("frame_hash"))

  /** Synthesize a REAL PPM frame SEQUENCE per video row for the shot-cut
    * path: `framesPerVideo` frames of the [[withPpmPayload]] geometry, the
    * cell field keyed by `(id, scene, cx, cy)` with `scene = frame_no div
    * sceneLen` — within a scene the picture is stable up to a bounded
    * wiggle (frame_no mod 4: 0 none, 1 top-left +100, 2 top-left and
    * bottom-right +100, 3 bottom-right +100 — each wiggle cell sits in
    * exactly one dHash comparison, so intra-scene Hamming ≤ 2), while a
    * scene boundary redraws the whole iid md5 field (Hamming ~
    * Binomial(64, ½)). Every byte is a deterministic integer function of
    * (id, frame_no, cx, cy): the oracle replays the field from the
    * formula while Spark decodes the REAL bytes through the codegen'd
    * parser — the [[withPpmPayload]] two-implementations discipline.
    *
    * Output: one row per (idCol, frame_no) with a `payload` column; the
    * input payload-free projection rides along.
    */
  def withVideoFrames(
      df: DataFrame,
      framesPerVideo: Int,
      sceneLen: Int,
      idCol: String = "doc_id"): DataFrame = {
    require(framesPerVideo >= 2 && framesPerVideo <= 64,
      s"withVideoFrames: framesPerVideo must be in [2, 64], got $framesPerVideo")
    require(sceneLen >= 2, s"withVideoFrames: sceneLen must be >= 2, got $sceneLen")
    val id = col(idCol).cast("long")
    val fr = col("frame_no")
    // codegen'd frame synthesis ([[graft.functions.MediaSynth
    // .PpmFramePayload]]) replacing the interpreted nested-`transform`
    // assembly — byte-identical (`MultimodalSynthSpec.videoFramesInterpreted`,
    // null-id header-only edge included)
    df.withColumn("frame_no", explode(sequence(lit(0L), lit(framesPerVideo - 1L))))
      .withColumn("payload",
        when(id.isNull || fr.isNull,
          lit(graft.functions.MediaSynth.PpmHeader))
          .otherwise(
            graft.functions.MediaSynth.ppmFramePayloadCol(id, fr, sceneLen)))
  }

  /** SHOT-BOUNDARY (scene-cut) detection over per-frame perceptual
    * signatures — the video-preprocessing pass that segments footage into
    * shots before frame sampling: consecutive-frame Hamming distance of
    * the 64-bit dHash, a cut wherever the distance jumps past
    * `cutThreshold`, and the running cut count as the SHOT index (the
    * gaps-and-islands assignment on perceptual distance). Hamming is
    * invariant under any fixed bit permutation applied to both operands,
    * so the oracle can replay it from its own bit packing without
    * agreeing on the signature's bit order.
    *
    * Scale shape: one codegen'd decode per frame; the only shuffle keys
    * by video id, and each window holds `framesPerVideo` rows (bounded,
    * never corpus-sized). Frame 0 has no predecessor: hamming = -1, never
    * a cut, shot 0.
    *
    * Output: (idCol, frame_no, hamming, is_cut, shot_no) per frame.
    */
  def sceneCuts(
      frames: DataFrame,
      hashCol: Column,
      cutThreshold: Int,
      idCol: String = "doc_id",
      frameCol: String = "frame_no"): DataFrame = {
    require(cutThreshold >= 1 && cutThreshold <= 64,
      s"sceneCuts: cutThreshold must be in [1, 64], got $cutThreshold")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(idCol)).orderBy(col(frameCol))
    frames
      .select(col(idCol), col(frameCol).cast("long").as(frameCol), hashCol.as("h"))
      .withColumn("ph", lag(col("h"), 1).over(w))
      .withColumn("hamming",
        when(col("ph").isNull, lit(-1L))
          .otherwise(bit_count(col("h").bitwiseXOR(col("ph"))).cast("long")))
      .withColumn("is_cut", col("hamming") >= cutThreshold)
      .withColumn("shot_no",
        sum(when(col("is_cut"), 1L).otherwise(0L))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col(idCol), col(frameCol), col("hamming"), col("is_cut"), col("shot_no"))
  }
}
