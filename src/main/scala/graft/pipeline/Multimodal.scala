package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Multimodal-column plumbing: image/audio/video payloads ride as opaque
 * `binary` columns with typed metadata; decode / feature-extract /
 * frame-sample are per-partition batch operations.
 *
 * The actual codec step is STUBBED (no image/audio libraries in this
 * environment): `decodeBatch` derives deterministic fake dimensions from
 * the payload bytes. Everything around it — schema, batching, partition
 * sizing, the explode shape for frame sampling — is the real pipeline.
 */
object Multimodal {

  /** schema of a decoded media record (what a real codec would emit). */
  val MediaMetaSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("n_bytes", LongType),
    StructField("width", LongType),
    StructField("height", LongType),
    StructField("channels", LongType)
  ))

  /**
   * Attach a binary payload column (UTF-8 bytes of the text stand in for
   * real media bytes) plus the container-level metadata a real ingest
   * would carry.
   */
  def withPayload(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      encode(col("text"), "UTF-8").as("payload"),
      struct(
        col("source").as("container"),
        octet_length(col("text")).as("n_bytes"),
        lit("raw/v1").as("format")
      ).as("media_meta")
    )

  /**
   * Content-hash dedup of binary assets: group byte-identical payloads by
   * SHA-256 and keep the smallest id as representative — the standard
   * first-line media dedup (exact byte copies re-crawled under different
   * ids) that runs BEFORE any decode. Real arithmetic, no stub: the hash,
   * grouping and counts are exactly what a production pipeline runs.
   * Map-side-combined single shuffle on the 32-byte digest; payload bytes
   * never shuffle (only the hash and id survive the projection).
   */
  def contentDedup(
      media: DataFrame,
      payloadCol: String = "payload",
      idCol: String = "doc_id"
  ): DataFrame =
    media
      .select(col(idCol), sha2(col(payloadCol), 256).as("content_hash"),
        octet_length(col(payloadCol)).cast("long").as("__nb"))
      .groupBy(col("content_hash"))
      .agg(
        min(col(idCol)).as(idCol),
        count(lit(1)).as("n_copies"),
        max(col("__nb")).as("n_bytes"))
      .select(col(idCol), col("content_hash"), col("n_copies"), col("n_bytes"))

  /**
   * CONTAINER-HEADER metadata decode over the raw payload bytes — REAL
   * parsing for the two fixed-layout image containers, no codec library,
   * no UDF (`substring(binary) → hex → conv`, all codegen'd builtins —
   * the [[audioEnergyWindows]] discipline applied to headers):
   *
   *  - PNG: 8-byte signature `89 50 4E 47 0D 0A 1A 0A`, then the IHDR
   *    chunk at FIXED offsets — width is the big-endian uint32 at byte 17
   *    (1-indexed), height at 21, color type at byte 26 (channels map:
   *    0→1 gray, 2→3 RGB, 3→1 palette, 4→2 gray+α, 6→4 RGBA).
   *  - JPEG: SOI `FF D8`, then a BOUNDED marker walk (each segment is
   *    `FF xx` + big-endian uint16 length INCLUDING the length bytes) to
   *    the first SOF0–SOF3 frame header: precision at +4, height BE16 at
   *    +5, width at +7, component count at +9. Real headers put SOF
   *    within the first handful of segments (APP0/APPn/DQT/DHT), so the
   *    walk unrolls `maxSegments` plan-side steps — a desynced or
   *    SOF-less stream falls through to the stub.
   *
   * Unknown containers (and failed walks) fall back to the deterministic
   * size-derived STUB arithmetic, loudly tagged `format = 'raw'`.
   */
  def containerMeta(
      media: DataFrame,
      maxSegments: Int = 8,
      payloadCol: String = "payload",
      idCol: String = "doc_id"
  ): DataFrame = {
    require(maxSegments >= 1, "maxSegments must be >= 1")
    // byte/word reads: 1-indexed byte offset → big-endian unsigned value
    def be(pos: Column, len: Int): Column =
      conv(hex(col("__pl").substr(pos.cast("int"), lit(len))), 16, 10).cast("long")
    // JPEG marker walk: one NAMED projection per step (the Hilbert-walk
    // discipline — composing raw Columns inlines each step's tree into the
    // next and the plan grows exponentially; named step columns are
    // non-cheap, so CollapseProject keeps the chain linear)
    var cur = media.select(col(idCol), col(payloadCol).as("__pl"),
      octet_length(col(payloadCol)).cast("long").as("__nb"),
      lit(3L).as("__pos"), lit(-1L).as("__h"), lit(-1L).as("__w"), lit(-1L).as("__c"))
    for (_ <- 1 to maxSegments) {
      val pos   = col("__pos")
      val live  = col("__h") < 0L && pos >= 3L && pos + 9L <= col("__nb") && be(pos, 1) === 255L
      val mkr   = be(pos + 1L, 1)
      val isSof = live && mkr >= 192L && mkr <= 195L
      cur = cur.select(col(idCol), col("__pl"), col("__nb"),
        when(col("__h") >= 0L, pos)
          .when(isSof, pos)
          .when(live, pos + 2L + be(pos + 2L, 2))
          .otherwise(lit(-1L)).as("__pos"),
        when(isSof, be(pos + 5L, 2)).otherwise(col("__h")).as("__h"),
        when(isSof, be(pos + 7L, 2)).otherwise(col("__w")).as("__w"),
        when(isSof, be(pos + 9L, 1)).otherwise(col("__c")).as("__c"))
    }
    val nb = col("__nb")
    val isPng = nb >= 33L &&
      hex(col("__pl").substr(lit(1), lit(8))) === "89504E470D0A1A0A" &&
      hex(col("__pl").substr(lit(13), lit(4))) === "49484452" // "IHDR"
    val jpegOk = nb >= 4L && hex(col("__pl").substr(lit(1), lit(2))) === "FFD8" &&
      !isPng && col("__h") >= 0L
    val pngCh = be(lit(26L), 1) // color type → channel count
    val pngChannels =
      when(pngCh === 0L, 1L).when(pngCh === 2L, 3L).when(pngCh === 3L, 1L)
        .when(pngCh === 4L, 2L).when(pngCh === 6L, 4L).otherwise(lit(3L))
    val stubW = (lit(64L) + pmod(nb, lit(193L)))
    val stubH = (lit(64L) + pmod(nb * 31L, lit(177L)))
    cur.select(
      col(idCol),
      when(isPng, "png").when(jpegOk, "jpeg").otherwise("raw").as("format"),
      nb.as("n_bytes"),
      when(isPng, be(lit(17L), 4)).when(jpegOk, col("__w")).otherwise(stubW).as("width"),
      when(isPng, be(lit(21L), 4)).when(jpegOk, col("__h")).otherwise(stubH).as("height"),
      when(isPng, pngChannels).when(jpegOk, col("__c")).otherwise(lit(3L)).as("channels"))
  }

  /**
   * Column-level metadata decode: [[containerMeta]]'s real PNG/JPEG header
   * parse with the deterministic size-derived fallback for unknown
   * containers (the historical all-raw shape — same output schema).
   */
  def decodeMeta(media: DataFrame): DataFrame =
    containerMeta(media).select("doc_id", "n_bytes", "width", "height", "channels")

  /**
   * FIXTURE WRAPPER (gate/spec harness aid, not a production operator):
   * wrap each doc's UTF-8 text bytes in a REAL minimal container — PNG
   * IHDR for `doc_id % 3 == 0` (color type 2/6 alternating), a two-segment
   * JPEG (APP0 JFIF then SOF0/SOF2 alternating, 3 or 1 components) for
   * `doc_id % 3 == 1`, raw bytes otherwise — with dimensions derived from
   * the id. Gives [[containerMeta]] genuine headers to parse in an
   * environment whose testdata payloads are text; the oracle rebuilds the
   * identical hex stream.
   */
  def syntheticContainers(docs: DataFrame): DataFrame = {
    val w = lit(1L) + pmod(col("doc_id") * 7L, lit(4096L))
    val h = lit(1L) + pmod(col("doc_id") * 13L, lit(4096L))
    val textHex = hex(encode(col("text"), "UTF-8"))
    val pngHex = concat(
      lit("89504E470D0A1A0A" + "0000000D" + "49484452"),
      lpad(hex(w), 8, "0"), lpad(hex(h), 8, "0"), lit("08"),
      when(pmod(col("doc_id"), lit(2)) === 0, "02").otherwise("06"),
      lit("000000"), textHex)
    val jfif = "FFD8" + "FFE0" + "0010" + "4A46494600" + "0101" + "00" + "00010001" + "0000"
    val sof0 = concat(lit("FFC0" + "0011" + "08"), lpad(hex(h), 4, "0"),
      lpad(hex(w), 4, "0"), lit("03" + "011100021101031101"))
    val sof2 = concat(lit("FFC2" + "000B" + "08"), lpad(hex(h), 4, "0"),
      lpad(hex(w), 4, "0"), lit("01" + "011100"))
    val jpegHex = concat(lit(jfif),
      when(pmod(col("doc_id"), lit(2)) === 0, sof0).otherwise(sof2), textHex)
    docs.select(
      col("doc_id"),
      unhex(
        when(pmod(col("doc_id"), lit(3)) === 0, pngHex)
          .when(pmod(col("doc_id"), lit(3)) === 1, jpegHex)
          .otherwise(textHex)).as("payload"))
  }

  /**
   * BLOCKHASH-STYLE PERCEPTUAL SIGNATURE dedup (Yang et al.'s blockhash
   * shape, 1-D over the byte stream) — the near-dup step between
   * [[contentDedup]] (exact SHA-256) and a real embedding model: split the
   * payload into `blocks` equal byte runs, bit `b` = 1 iff block b's mean
   * exceeds the whole payload's mean, group by the resulting signature.
   * Robust to small local edits (a changed byte rarely flips its block's
   * mean across the global mean) where the content hash is not. EXACT
   * integer arithmetic only: the mean comparison cross-multiplies
   * (`sum_b·n > total·n_b`) so no float ever exists; empty tail blocks
   * contribute 0. Row-local signature (one projection, payload never
   * shuffles — only the int64 signature and id survive), one
   * map-side-combined groupBy.
   */
  def blockhashDedup(
      media: DataFrame,
      blocks: Int = 16,
      payloadCol: String = "payload",
      idCol: String = "doc_id"
  ): DataFrame = {
    require(blocks >= 1 && blocks <= 62, "blocks must be in [1, 62]")
    graft.functions.GraftFunctions.register(media.sparkSession)
    media
      .filter(expr(s"octet_length($payloadCol)") > 0)
      .withColumn("__sig",
        graft.functions.GraftFunctions.blockhashSig(col(payloadCol), blocks))
      .groupBy(col("__sig"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_docs"))
      .select(col(idCol), col("__sig").as("signature"), col("n_docs"))
  }

  /**
   * A/V CONTAINER-HEADER metadata decode — the LITTLE-ENDIAN counterpart
   * of [[containerMeta]]: real fixed-layout header parsing for the three
   * classic LE containers, no codec library, no UDF (every read is the
   * codegen'd `substring(binary) → hex → conv` byte extract; an LE word is
   * the positional sum of its bytes, never a string reverse):
   *
   *  - WAV (canonical RIFF): `RIFF` at 1, `WAVE` at 9, `fmt ` at 13,
   *    `data` at 37 — channels LE16 at 23, sample rate LE32 at 25, block
   *    align LE16 at 33, bits/sample LE16 at 35, data size LE32 at 41;
   *    `n_samples = data_size / block_align`. (Bounded to the canonical
   *    44-byte layout every standard encoder writes; a chunk-reordered
   *    stream falls through to `raw`.)
   *  - GIF (87a/89a): width LE16 at 7, height LE16 at 9; the packed byte
   *    at 11 carries the palette depth in its low 3 bits (`bits = low3+1`);
   *    pixels are palette-RGB, so channels reports 3.
   *  - BMP (BITMAPINFOHEADER): `BM` at 1, width SIGNED LE32 at 19, height
   *    SIGNED LE32 at 23 (negative = top-down scan order — reported as the
   *    magnitude), bits/pixel LE16 at 29; channels = bpp/8 for the byte-
   *    aligned depths, 1 for palette depths below 8.
   *
   * Unknown containers report `format = 'raw'` with every decoded field
   * at −1 (n_bytes stays real). Row-local single projection: no shuffle,
   * no explode; payload bytes never leave the scan projection — at 100 TB
   * this is a map-only metadata sweep.
   */
  def avContainerMeta(
      media: DataFrame,
      payloadCol: String = "payload",
      idCol: String = "doc_id"
  ): DataFrame = {
    val pl = col(payloadCol)
    val nb = octet_length(pl).cast("long")
    // byte at 1-indexed pos → unsigned value; LE word = positional byte sum
    def b1(pos: Int): Column =
      conv(hex(pl.substr(lit(pos), lit(1))), 16, 10).cast("long")
    def le(pos: Int, n: Int): Column =
      (0 until n).map(i => b1(pos + i) * lit(1L << (8 * i))).reduce(_ + _)
    // signed LE32: two's complement fold-down
    def leS32(pos: Int): Column = {
      val u = le(pos, 4)
      when(u >= lit(1L << 31), u - lit(1L << 32)).otherwise(u)
    }
    def magic(pos: Int, hexStr: String): Column =
      hex(pl.substr(lit(pos), lit(hexStr.length / 2))) === hexStr
    val isWav = nb >= 44L && magic(1, "52494646") && magic(9, "57415645") &&
      magic(13, "666D7420") && magic(37, "64617461")
    val isGif = nb >= 13L &&
      (magic(1, "474946383961") || magic(1, "474946383761"))
    val isBmp = nb >= 30L && magic(1, "424D")
    val blockAlign = le(33, 2)
    val dataSize   = le(41, 4)
    val bmpBpp     = le(29, 2)
    val neg1       = lit(-1L)
    media.select(
      col(idCol),
      when(isWav, "wav").when(isGif, "gif").when(isBmp, "bmp")
        .otherwise("raw").as("format"),
      nb.as("n_bytes"),
      when(isGif, le(7, 2)).when(isBmp, abs(leS32(19))).otherwise(neg1).as("width"),
      when(isGif, le(9, 2)).when(isBmp, abs(leS32(23))).otherwise(neg1).as("height"),
      when(isWav, le(25, 4)).otherwise(neg1).as("sample_rate"),
      when(isWav, le(23, 2)).when(isGif, lit(3L))
        .when(isBmp, when(bmpBpp >= 8L, (bmpBpp / 8L).cast("long")).otherwise(lit(1L)))
        .otherwise(neg1).as("channels"),
      when(isWav, le(35, 2)).when(isGif, pmod(b1(11), lit(8L)) + 1L)
        .when(isBmp, bmpBpp).otherwise(neg1).as("bits"),
      when(isWav && blockAlign > 0L, (dataSize / blockAlign).cast("long"))
        .otherwise(neg1).as("n_samples"))
  }

  /**
   * FIXTURE WRAPPER for [[avContainerMeta]] (gate/spec harness aid): wrap
   * each doc's UTF-8 text bytes in a REAL minimal little-endian container —
   * canonical WAV for `doc_id % 4 == 0` (1/2 channels, 8/16/24-bit,
   * id-derived sample rate), GIF89a for `% 4 == 1`, BITMAPINFOHEADER BMP
   * for `% 4 == 2` (every 5th id stores a NEGATIVE top-down height), raw
   * bytes otherwise. The oracle rebuilds the identical hex stream.
   */
  def syntheticAvContainers(docs: DataFrame): DataFrame = {
    val id      = col("doc_id")
    val textHex = hex(encode(col("text"), "UTF-8"))
    def leHex(v: Column, n: Int): Column =
      concat((0 until n).map(i =>
        lpad(hex(pmod(shiftright(v, 8 * i), lit(256L))), 2, "0")): _*)
    // WAV: canonical 44-byte header, data = the text bytes
    val wavCh    = lit(1L) + pmod(id, lit(2L))
    val wavBytes = lit(1L) + pmod(id, lit(3L)) // bytes per sample: 1/2/3
    val wavBits  = wavBytes * 8L
    val wavRate  = lit(8000L) + pmod(id * 441L, lit(40000L))
    val wavAlign = wavCh * wavBytes
    val dataLen  = octet_length(encode(col("text"), "UTF-8")).cast("long")
    val wavHex = concat(
      lit("52494646"), leHex(dataLen + 36L, 4), lit("57415645"),
      lit("666D7420"), leHex(lit(16L), 4), leHex(lit(1L), 2),
      leHex(wavCh, 2), leHex(wavRate, 4), leHex(wavRate * wavAlign, 4),
      leHex(wavAlign, 2), leHex(wavBits, 2),
      lit("64617461"), leHex(dataLen, 4), textHex)
    // GIF89a: screen descriptor + packed byte carrying the palette depth
    val gifW = lit(1L) + pmod(id * 5L, lit(65536L))
    val gifH = lit(1L) + pmod(id * 9L, lit(65536L))
    val gifHex = concat(
      lit("474946383961"), leHex(gifW, 2), leHex(gifH, 2),
      leHex(lit(128L) + pmod(id, lit(8L)), 1), lit("0000"), textHex)
    // BMP: 14-byte file header + BITMAPINFOHEADER prefix, pixels = text
    val bmpW   = lit(1L) + pmod(id * 11L, lit(3000L))
    val bmpHpx = lit(1L) + pmod(id * 17L, lit(3000L))
    val bmpH   = when(pmod(id, lit(5L)) === 0L, lit(1L << 32) - bmpHpx).otherwise(bmpHpx)
    val bmpBpp = when(pmod(id, lit(3L)) === 0L, 8L).when(pmod(id, lit(3L)) === 1L, 24L)
      .otherwise(lit(32L))
    val bmpHex = concat(
      lit("424D"), leHex(dataLen + 54L, 4), lit("00000000"), leHex(lit(54L), 4),
      leHex(lit(40L), 4), leHex(bmpW, 4), leHex(bmpH, 4),
      leHex(lit(1L), 2), leHex(bmpBpp, 2), textHex)
    docs.select(
      id,
      unhex(
        when(pmod(id, lit(4L)) === 0L, wavHex)
          .when(pmod(id, lit(4L)) === 1L, gifHex)
          .when(pmod(id, lit(4L)) === 2L, bmpHex)
          .otherwise(textHex)).as("payload"))
  }

  /**
   * GIF FRAME COUNT via a BOUNDED BLOCK WALK over the payload bytes —
   * the animation-vs-still readout (a video-curation pipeline prices a
   * 200-frame GIF very differently from a logo), REAL parsing with no
   * codec library and no UDF (the [[containerMeta]] JPEG-marker-walk
   * discipline applied to GIF's block grammar):
   *
   *  - header `GIF87a`/`GIF89a`, logical screen descriptor, then the
   *    GLOBAL COLOR TABLE skip (3·2^(N+1) bytes when the packed byte's
   *    bit 7 is set, N = its low 3 bits);
   *  - then a block walk: `0x21` extension (label + length-prefixed
   *    sub-blocks to a 0 terminator), `0x2C` image descriptor (9 bytes,
   *    optional LOCAL color table, LZW min-code byte, then the image
   *    data sub-block chain) — each image descriptor is ONE FRAME —
   *    and `0x3B` trailer ends the file.
   *
   * The walk unrolls `maxBlocks` plan-side steps (one NAMED projection
   * per step — the [[containerMeta]] linear-plan discipline); each step
   * consumes one block header or one sub-block. A GIF whose walk does
   * not reach the trailer within the budget (real-world frames carry
   * many KB-sized sub-blocks) reports `n_frames = -1` — honest "not
   * decoded", never a guess; raising `maxBlocks` buys depth linearly.
   * Non-GIF payloads report `format = 'raw'`, `n_frames = -1`.
   *
   * Scale shape: row-local projection chain — payload bytes never
   * shuffle; only (id, format, n_bytes, n_frames) survive.
   */
  def gifFrameCount(
      media: DataFrame,
      maxBlocks: Int = 24,
      payloadCol: String = "payload",
      idCol: String = "doc_id"
  ): DataFrame = {
    require(maxBlocks >= 1 && maxBlocks <= 96, "maxBlocks must be in [1, 96]")
    def be(pos: Column, len: Int): Column =
      conv(hex(col("__pl").substr(pos.cast("int"), lit(len))), 16, 10).cast("long")
    val nb0 = octet_length(col(payloadCol)).cast("long")
    val isGif0 = nb0 >= 14L &&
      (hex(col(payloadCol).substr(lit(1), lit(6))) === "474946383961" ||
        hex(col(payloadCol).substr(lit(1), lit(6))) === "474946383761")
    var cur = media.select(col(idCol), col(payloadCol).as("__pl"), nb0.as("__nb"),
      isGif0.as("__gif"), lit(0L).as("__fr"), lit(0L).as("__mode"),
      lit(false).as("__done"), lit(true).as("__ok"))
    // skip the screen descriptor + optional global color table in one
    // named step (3·2^(N+1) bytes; N ∈ 0..7 → a flat when-chain keeps the
    // arithmetic integer and codegen'd)
    val packed0 = be(lit(11L), 1)
    def pow2(n: Column): Column =
      when(n === 0L, 2L).when(n === 1L, 4L).when(n === 2L, 8L).when(n === 3L, 16L)
        .when(n === 4L, 32L).when(n === 5L, 64L).when(n === 6L, 128L).otherwise(lit(256L))
    val gctLen = when(packed0 >= 128L, lit(3L) * pow2(pmod(packed0, lit(8L)))).otherwise(lit(0L))
    cur = cur.select(col(idCol), col("__pl"), col("__nb"), col("__gif"),
      when(col("__gif"), lit(14L) + gctLen).otherwise(lit(-1L)).as("__pos"),
      col("__fr"), col("__mode"), col("__done"), col("__ok"))
    for (_ <- 1 to maxBlocks) {
      val pos  = col("__pos")
      val live = col("__gif") && !col("__done") && pos >= 14L && pos <= col("__nb")
      val b    = be(pos, 1)
      val m0   = col("__mode") === 0L
      val isTrailer = live && m0 && b === 59L  // 0x3B
      val isImg     = live && m0 && b === 44L  // 0x2C
      val isExt     = live && m0 && b === 33L  // 0x21
      val badBlock  = live && m0 && !(b === 59L || b === 44L || b === 33L)
      val imgPacked = be(pos + 9L, 1)
      val lctLen = when(imgPacked >= 128L, lit(3L) * pow2(pmod(imgPacked, lit(8L))))
        .otherwise(lit(0L))
      val subLen = b
      cur = cur.select(col(idCol), col("__pl"), col("__nb"), col("__gif"),
        when(isImg, pos + 10L + lctLen + 1L)
          .when(isExt, pos + 2L)
          .when(live && !m0 && subLen === 0L, pos + 1L)
          .when(live && !m0, pos + 1L + subLen)
          .otherwise(pos).as("__pos"),
        when(isImg, col("__fr") + 1L).otherwise(col("__fr")).as("__fr"),
        when(isImg || isExt, lit(1L))
          .when(live && !m0 && subLen === 0L, lit(0L))
          .otherwise(col("__mode")).as("__mode"),
        (col("__done") || isTrailer ||
          coalesce(badBlock, lit(false))).as("__done"),
        (col("__ok") && !coalesce(badBlock, lit(false))).as("__ok"))
    }
    cur.select(
      col(idCol),
      when(col("__gif"), "gif").otherwise("raw").as("format"),
      col("__nb").as("n_bytes"),
      when(col("__gif") && col("__done") && col("__ok"), col("__fr"))
        .otherwise(lit(-1L)).as("n_frames"))
  }

  /**
   * FIXTURE WRAPPER for [[gifFrameCount]] (gate/spec harness aid): build
   * a REAL multi-frame GIF89a stream per doc — `1 + doc_id % 3` frames,
   * each a graphic-control extension (4-byte sub-block + terminator)
   * followed by an image descriptor + LZW min-code + one 4-byte data
   * sub-block + terminator; even ids carry a GLOBAL color table
   * (3·2^(id%3+1) bytes) and `id % 6 == 1` puts a 6-byte LOCAL color
   * table on frame 0, so both skip paths execute; the trailer is
   * followed by the doc's text bytes (post-trailer garbage the walk must
   * ignore). `doc_id % 4 == 3` stays raw text. The oracle rebuilds the
   * identical hex stream.
   */
  def syntheticAnimatedGifs(docs: DataFrame): DataFrame = {
    val id      = col("doc_id")
    val textHex = hex(encode(col("text"), "UTF-8"))
    def leHex(v: Column, n: Int): Column =
      concat((0 until n).map(i =>
        lpad(hex(pmod(shiftright(v, 8 * i), lit(256L))), 2, "0")): _*)
    val n       = pmod(id, lit(3L))
    val hasGct  = pmod(id, lit(2L)) === 0L
    val packed  = when(hasGct, leHex(lit(128L) + n, 1)).otherwise(lit("00"))
    val gctHex  = when(hasGct,
      expr("repeat('ABCDEF', CAST(pow(2, (doc_id % 3) + 1) AS INT))")).otherwise(lit(""))
    val frames  = lit(1L) + pmod(id, lit(3L))
    def frame(k: Int): Column = {
      val gce = concat(lit("21F904" + "00"),
        leHex(pmod(id * 3L + k, lit(60000L)), 2), lit("00" + "00"))
      val lct = pmod(id, lit(6L)) === 1L && lit(k) === 0
      val img = concat(lit("2C"), leHex(lit(k.toLong), 2), leHex(lit(0L), 2),
        leHex(lit(1L + k), 2), leHex(lit(1L), 2),
        when(lct, "80" + "DEADBEDEADBE").otherwise(lit("00")))
      val data = lit("02" + "04" + "DEADBEEF" + "00")
      when(frames > k, concat(gce, img, data)).otherwise(lit(""))
    }
    val gifHex = concat(
      lit("474946383961"), leHex(lit(1L) + pmod(id * 5L, lit(65536L)), 2),
      leHex(lit(1L) + pmod(id * 9L, lit(65536L)), 2), packed, lit("0000"), gctHex,
      frame(0), frame(1), frame(2), lit("3B"), textHex)
    docs.select(id,
      unhex(when(pmod(id, lit(4L)) === 3L, textHex).otherwise(gifHex)).as("payload"))
  }

  /**
   * TIFF/EXIF IFD metadata decode — REAL parsing of the third container
   * family, and the first BYTE-ORDER-BRANCHING one: TIFF declares its own
   * endianness (`II` little, `MM` big) and every subsequent word honors
   * it, which is exactly the bug farm a codec library hides. No library,
   * no UDF — the [[containerMeta]] substring→hex→conv discipline:
   *
   *  - header: `II 2A00` / `MM 002A`, then the uint32 offset of IFD0;
   *  - IFD0: a uint16 entry count, then FIXED-SIZE 12-byte entries
   *    (tag u16, type u16, count u32, value field u32) — no walk state
   *    needed, entry `i` sits at a computable offset;
   *  - values: type 3 (SHORT) reads the LEFT-JUSTIFIED first two bytes
   *    of the value field in the declared byte order; type 4 (LONG)
   *    reads all four; type 5 (RATIONAL) is the first POINTER-CHASE in
   *    the decode family — the value field holds a byte OFFSET to an
   *    8-byte numerator/denominator pair elsewhere in the file, both
   *    read in the declared byte order. Tags decoded: 256 ImageWidth,
   *    257 ImageLength, 258 BitsPerSample, 282 XResolution (rational →
   *    `xres_num`/`xres_den`).
   *
   * The scan unrolls `maxEntries` plan-side reads gated by the declared
   * entry count; a tag living beyond the budget is simply not found (its
   * field stays −1 — honest, never a guess), and `n_entries` always
   * reports the declared count. Non-TIFF payloads report `format='raw'`.
   * Scale shape: row-local projection chain, payload bytes never shuffle.
   */
  def tiffMeta(
      media: DataFrame,
      maxEntries: Int = 16,
      payloadCol: String = "payload",
      idCol: String = "doc_id"
  ): DataFrame = {
    require(maxEntries >= 1 && maxEntries <= 64, "maxEntries must be in [1, 64]")
    def b1(pos: Column): Column =
      conv(hex(col("__pl").substr(pos.cast("int"), lit(1))), 16, 10).cast("long")
    def u16(pos: Column): Column =
      when(col("__le"), b1(pos) + b1(pos + 1L) * 256L)
        .otherwise(b1(pos) * 256L + b1(pos + 1L))
    def u32(pos: Column): Column =
      when(col("__le"),
        b1(pos) + b1(pos + 1L) * 256L + b1(pos + 2L) * 65536L + b1(pos + 3L) * 16777216L)
        .otherwise(
          b1(pos) * 16777216L + b1(pos + 2L) * 256L + b1(pos + 1L) * 65536L + b1(pos + 3L))
    val nb = octet_length(col(payloadCol)).cast("long")
    val hdr = hex(col(payloadCol).substr(lit(1), lit(4)))
    val isLe = hdr === "49492A00"
    val isBe = hdr === "4D4D002A"
    var cur = media.select(col(idCol), col(payloadCol).as("__pl"), nb.as("__nb"),
      (isLe || isBe).as("__tiff"), isLe.as("__le"))
    cur = cur.select(col(idCol), col("__pl"), col("__nb"), col("__tiff"), col("__le"),
      when(col("__tiff"), u32(lit(5L)) + 1L).otherwise(lit(-1L)).as("__ifd"))
    cur = cur.select(col(idCol), col("__pl"), col("__nb"), col("__tiff"), col("__le"),
      col("__ifd"),
      when(col("__tiff") && col("__ifd") >= 1L && col("__ifd") + 1L <= col("__nb"),
        u16(col("__ifd"))).otherwise(lit(-1L)).as("__cnt"),
      lit(-1L).as("__w"), lit(-1L).as("__h"), lit(-1L).as("__bits"),
      lit(-1L).as("__xn"), lit(-1L).as("__xd"))
    val state = Seq("__pl", "__nb", "__tiff", "__le", "__ifd", "__cnt",
      "__w", "__h", "__bits", "__xn", "__xd").map(col)
    for (i <- 0 until maxEntries) {
      val base = col("__ifd") + 2L + lit(12L * i)
      val live = col("__tiff") && lit(i.toLong) < col("__cnt") &&
        base + 11L <= col("__nb")
      // step A: NAME the per-entry reads once — inlining them into every
      // state branch duplicated the byte-read trees ~6x per step and the
      // unrolled plan's analysis cost exploded (47 s cold at sf0.1)
      val typA = u16(base + 2L)
      val valA = when(typA === 3L, u16(base + 8L)).when(typA === 4L, u32(base + 8L))
        .otherwise(lit(-1L))
      cur = cur.select(col(idCol) +: state :+
        u16(base).as("__tag") :+ typA.as("__typ") :+ valA.as("__val") :+
        live.as("__live") :+ (u32(base + 8L) + 1L).as("__ptr"): _*)
      // step B: fold into the tag state off the named columns
      val tag = col("__tag")
      val typ = col("__typ")
      val lv  = col("__live")
      val v   = col("__val")
      // RATIONAL pointer-chase: the value field is a 0-based byte offset
      // to an 8-byte num/den pair; both words honor the byte order
      val ptr   = col("__ptr")
      val ratOk = typ === 5L && ptr >= 1L && ptr + 7L <= col("__nb")
      cur = cur.select(col(idCol), col("__pl"), col("__nb"), col("__tiff"), col("__le"),
        col("__ifd"), col("__cnt"),
        when(lv && tag === 256L, v).otherwise(col("__w")).as("__w"),
        when(lv && tag === 257L, v).otherwise(col("__h")).as("__h"),
        when(lv && tag === 258L, v).otherwise(col("__bits")).as("__bits"),
        when(lv && tag === 282L && ratOk, u32(ptr)).otherwise(col("__xn")).as("__xn"),
        when(lv && tag === 282L && ratOk, u32(ptr + 4L)).otherwise(col("__xd")).as("__xd"))
    }
    cur.select(
      col(idCol),
      when(col("__tiff") && col("__le"), "tiff_le")
        .when(col("__tiff"), "tiff_be").otherwise("raw").as("format"),
      col("__nb").as("n_bytes"),
      when(col("__tiff"), col("__cnt")).otherwise(lit(-1L)).as("n_entries"),
      col("__w").as("width"), col("__h").as("height"), col("__bits").as("bits"),
      col("__xn").as("xres_num"), col("__xd").as("xres_den"))
  }

  /**
   * FIXTURE WRAPPER for [[tiffMeta]] (gate/spec harness aid): wrap each
   * doc's text bytes behind a REAL minimal TIFF — `doc_id % 3 == 0`
   * little-endian (`II`), `% 3 == 1` BIG-endian (`MM`, every word
   * byte-swapped), raw otherwise. IFD0 holds 4 or 5 entries (even ids
   * add a Compression entry the decoder must skip): ImageWidth as a
   * left-justified SHORT, ImageLength as a SHORT, BitsPerSample as a
   * full LONG, XResolution as a RATIONAL whose value field POINTS at an
   * 8-byte num/den pair after the IFD — so both value widths, both byte
   * orders, and the pointer chase all execute. The oracle rebuilds the
   * identical hex stream.
   */
  def syntheticTiffs(docs: DataFrame): DataFrame = {
    val id      = col("doc_id")
    val textHex = hex(encode(col("text"), "UTF-8"))
    def leHex(v: Column, n: Int): Column =
      concat((0 until n).map(i =>
        lpad(hex(pmod(shiftright(v, 8 * i), lit(256L))), 2, "0")): _*)
    def beHex(v: Column, n: Int): Column =
      concat((0 until n).map(i =>
        lpad(hex(pmod(shiftright(v, 8 * (n - 1 - i)), lit(256L))), 2, "0")): _*)
    val w    = lit(1L) + pmod(id * 7L, lit(5000L))
    val h    = lit(1L) + pmod(id * 11L, lit(5000L))
    val bits = lit(8L) * (lit(1L) + pmod(id, lit(4L)))
    val xn   = lit(72L) + pmod(id, lit(100L))
    val xd   = lit(1L) + pmod(id, lit(3L))
    val nEnt = lit(4L) + pmod(id + 1L, lit(2L)) // even ids: 5 entries
    // rational payload sits right after the next-IFD pointer:
    // 0-based offset = 8 (IFD start) + 2 (count) + 12·nEnt + 4 (next ptr)
    val ratOff = lit(14L) + lit(12L) * nEnt
    def entry(hx: (Column, Int) => Column, tag: Long, typ: Long, value: Column) =
      concat(hx(lit(tag), 2), hx(lit(typ), 2), hx(lit(1L), 4),
        if (typ == 3L) concat(hx(value, 2), lit("0000")) else hx(value, 4))
    def body(hx: (Column, Int) => Column): Column = concat(
      hx(lit(8L), 4), hx(nEnt, 2),
      entry(hx, 256L, 3L, w), entry(hx, 257L, 3L, h), entry(hx, 258L, 4L, bits),
      concat(hx(lit(282L), 2), hx(lit(5L), 2), hx(lit(1L), 4), hx(ratOff, 4)),
      when(nEnt === 5L, entry(hx, 259L, 3L, lit(1L))).otherwise(lit("")),
      hx(lit(0L), 4), hx(xn, 4), hx(xd, 4), textHex)
    val tiffLe = concat(lit("49492A00"), body(leHex))
    val tiffBe = concat(lit("4D4D002A"), body(beHex))
    docs.select(id,
      unhex(when(pmod(id, lit(3L)) === 0L, tiffLe)
        .when(pmod(id, lit(3L)) === 1L, tiffBe)
        .otherwise(textHex)).as("payload"))
  }

  /**
   * TIFF + EXIF SUB-IFD decode — [[tiffMeta]]'s pointer-chase walk
   * GENERALIZED past one table: IFD0 yields width/height plus the
   * ExifIFDPointer (tag 34665, a LONG 0-based byte offset to a SECOND
   * IFD), and that sub-IFD is walked with the same named-read step
   * discipline for ISOSpeedRatings (tag 34855) and ExposureTime (tag
   * 33434) — a RATIONAL whose value field is itself a third pointer to
   * an 8-byte num/den pair. Two chained pointer hops (IFD0 → Exif IFD →
   * rational payload), both byte orders, all as codegen'd
   * substring→hex→conv columns; no codec library, no UDF. Non-TIFF
   * payloads pass through as format='raw' with -1 fields; a 34665 value
   * pointing outside the payload yields n_exif = -1 (never a mis-read).
   * Layout per the public TIFF 6.0 / EXIF 2.x specifications.
   */
  def tiffExifMeta(
      media: DataFrame,
      maxEntries: Int = 8,
      maxExifEntries: Int = 8,
      payloadCol: String = "payload",
      idCol: String = "doc_id"
  ): DataFrame = {
    require(maxEntries >= 1 && maxEntries <= 64, "maxEntries must be in [1, 64]")
    require(maxExifEntries >= 1 && maxExifEntries <= 64, "maxExifEntries must be in [1, 64]")
    def b1(pos: Column): Column =
      conv(hex(col("__pl").substr(pos.cast("int"), lit(1))), 16, 10).cast("long")
    def u16(pos: Column): Column =
      when(col("__le"), b1(pos) + b1(pos + 1L) * 256L)
        .otherwise(b1(pos) * 256L + b1(pos + 1L))
    def u32(pos: Column): Column =
      when(col("__le"),
        b1(pos) + b1(pos + 1L) * 256L + b1(pos + 2L) * 65536L + b1(pos + 3L) * 16777216L)
        .otherwise(
          b1(pos) * 16777216L + b1(pos + 2L) * 256L + b1(pos + 1L) * 65536L + b1(pos + 3L))
    val nb  = octet_length(col(payloadCol)).cast("long")
    val hdr = hex(col(payloadCol).substr(lit(1), lit(4)))
    val isLe = hdr === "49492A00"
    val isBe = hdr === "4D4D002A"
    var cur = media.select(col(idCol), col(payloadCol).as("__pl"), nb.as("__nb"),
      (isLe || isBe).as("__tiff"), isLe.as("__le"))
    cur = cur.select(col(idCol), col("__pl"), col("__nb"), col("__tiff"), col("__le"),
      when(col("__tiff"), u32(lit(5L)) + 1L).otherwise(lit(-1L)).as("__ifd"))
    cur = cur.select(col(idCol), col("__pl"), col("__nb"), col("__tiff"), col("__le"),
      col("__ifd"),
      when(col("__tiff") && col("__ifd") >= 1L && col("__ifd") + 1L <= col("__nb"),
        u16(col("__ifd"))).otherwise(lit(-1L)).as("__cnt"),
      lit(-1L).as("__w"), lit(-1L).as("__h"), lit(-1L).as("__xifd"))
    val st0 = Seq("__pl", "__nb", "__tiff", "__le", "__ifd", "__cnt",
      "__w", "__h", "__xifd").map(col)
    for (i <- 0 until maxEntries) {
      val base = col("__ifd") + 2L + lit(12L * i)
      val live = col("__tiff") && lit(i.toLong) < col("__cnt") &&
        base + 11L <= col("__nb")
      // named per-entry reads (the tiffMeta plan-cost fix: inlining them
      // into every fold branch duplicated the byte-read trees ~6x/step)
      val typA = u16(base + 2L)
      val valA = when(typA === 3L, u16(base + 8L)).when(typA === 4L, u32(base + 8L))
        .otherwise(lit(-1L))
      cur = cur.select(col(idCol) +: st0 :+
        u16(base).as("__tag") :+ typA.as("__typ") :+ valA.as("__val") :+
        live.as("__live"): _*)
      val tag = col("__tag"); val typ = col("__typ")
      val lv  = col("__live"); val v = col("__val")
      cur = cur.select(col(idCol), col("__pl"), col("__nb"), col("__tiff"), col("__le"),
        col("__ifd"), col("__cnt"),
        when(lv && tag === 256L, v).otherwise(col("__w")).as("__w"),
        when(lv && tag === 257L, v).otherwise(col("__h")).as("__h"),
        // the SUB-IFD hop: tag 34665's LONG value is the 0-based offset
        // of the Exif IFD; store it 1-based for the substr reads below
        when(lv && tag === 34665L && typ === 4L, v + 1L).otherwise(col("__xifd")).as("__xifd"))
    }
    // second table: entry count at the pointed-to offset, bounds-guarded
    cur = cur.select(col(idCol), col("__pl"), col("__nb"), col("__tiff"), col("__le"),
      col("__cnt"), col("__w"), col("__h"), col("__xifd"),
      when(col("__tiff") && col("__xifd") >= 1L && col("__xifd") + 1L <= col("__nb"),
        u16(col("__xifd"))).otherwise(lit(-1L)).as("__cnt2"),
      lit(-1L).as("__iso"), lit(-1L).as("__en"), lit(-1L).as("__ed"))
    val st1 = Seq("__pl", "__nb", "__tiff", "__le", "__cnt",
      "__w", "__h", "__xifd", "__cnt2", "__iso", "__en", "__ed").map(col)
    for (j <- 0 until maxExifEntries) {
      val base = col("__xifd") + 2L + lit(12L * j)
      val live = col("__tiff") && col("__xifd") >= 1L &&
        lit(j.toLong) < col("__cnt2") && base + 11L <= col("__nb")
      val typA = u16(base + 2L)
      val valA = when(typA === 3L, u16(base + 8L)).when(typA === 4L, u32(base + 8L))
        .otherwise(lit(-1L))
      cur = cur.select(col(idCol) +: st1 :+
        u16(base).as("__tag") :+ typA.as("__typ") :+ valA.as("__val") :+
        live.as("__live") :+ (u32(base + 8L) + 1L).as("__ptr"): _*)
      val tag = col("__tag"); val typ = col("__typ")
      val lv  = col("__live"); val v = col("__val"); val ptr = col("__ptr")
      val ratOk = typ === 5L && ptr >= 1L && ptr + 7L <= col("__nb")
      cur = cur.select(col(idCol), col("__pl"), col("__nb"), col("__tiff"), col("__le"),
        col("__cnt"), col("__w"), col("__h"), col("__xifd"), col("__cnt2"),
        when(lv && tag === 34855L, v).otherwise(col("__iso")).as("__iso"),
        when(lv && tag === 33434L && ratOk, u32(ptr)).otherwise(col("__en")).as("__en"),
        when(lv && tag === 33434L && ratOk, u32(ptr + 4L)).otherwise(col("__ed")).as("__ed"))
    }
    cur.select(
      col(idCol),
      when(col("__tiff") && col("__le"), "tiff_le")
        .when(col("__tiff"), "tiff_be").otherwise("raw").as("format"),
      col("__nb").as("n_bytes"),
      col("__w").as("width"), col("__h").as("height"),
      col("__cnt2").as("n_exif"),
      col("__iso").as("iso"),
      col("__en").as("exp_num"), col("__ed").as("exp_den"))
  }

  /**
   * FIXTURE WRAPPER for [[tiffExifMeta]] (gate/spec harness aid): a REAL
   * minimal two-table TIFF — IFD0 (3 entries: SHORT width/height and the
   * tag-34665 LONG pointer) chains to an Exif sub-IFD holding
   * ISOSpeedRatings, a skip-me Flash entry on odd ids, and an
   * ExposureTime RATIONAL whose value field points at the 8-byte num/den
   * pair after the table — so the sub-IFD hop, the in-table skip, and
   * the second-level pointer chase all execute in both byte orders
   * (`doc_id % 3`: 0 = II, 1 = MM, 2 = raw). The oracle rebuilds the
   * identical hex stream.
   */
  def syntheticExifTiffs(docs: DataFrame): DataFrame = {
    val id      = col("doc_id")
    val textHex = hex(encode(col("text"), "UTF-8"))
    def leHex(v: Column, n: Int): Column =
      concat((0 until n).map(i =>
        lpad(hex(pmod(shiftright(v, 8 * i), lit(256L))), 2, "0")): _*)
    def beHex(v: Column, n: Int): Column =
      concat((0 until n).map(i =>
        lpad(hex(pmod(shiftright(v, 8 * (n - 1 - i)), lit(256L))), 2, "0")): _*)
    val w    = lit(1L) + pmod(id * 7L, lit(5000L))
    val h    = lit(1L) + pmod(id * 11L, lit(5000L))
    val iso  = lit(100L) * (lit(1L) + pmod(id, lit(16L)))
    val en   = lit(1L)
    val ed   = lit(2L) + pmod(id * 3L, lit(998L))
    val nE2  = lit(2L) + pmod(id, lit(2L)) // odd ids: 3 sub-IFD entries
    // fixed layout (0-based): hdr 0..7, IFD0 8..49 (count + 3×12 + next),
    // Exif IFD at 50, rational pair right after its next-IFD pointer
    val exifOff = lit(50L)
    val ratOff  = lit(56L) + lit(12L) * nE2
    def entry(hx: (Column, Int) => Column, tag: Long, typ: Long, value: Column) =
      concat(hx(lit(tag), 2), hx(lit(typ), 2), hx(lit(1L), 4),
        if (typ == 3L) concat(hx(value, 2), lit("0000")) else hx(value, 4))
    def body(hx: (Column, Int) => Column): Column = concat(
      hx(lit(8L), 4), hx(lit(3L), 2),
      entry(hx, 256L, 3L, w), entry(hx, 257L, 3L, h), entry(hx, 34665L, 4L, exifOff),
      hx(lit(0L), 4),
      hx(nE2, 2),
      entry(hx, 34855L, 3L, iso),
      when(nE2 === 3L, entry(hx, 37385L, 3L, lit(1L))).otherwise(lit("")),
      concat(hx(lit(33434L), 2), hx(lit(5L), 2), hx(lit(1L), 4), hx(ratOff, 4)),
      hx(lit(0L), 4), hx(en, 4), hx(ed, 4), textHex)
    val tiffLe = concat(lit("49492A00"), body(leHex))
    val tiffBe = concat(lit("4D4D002A"), body(beHex))
    docs.select(id,
      unhex(when(pmod(id, lit(3L)) === 0L, tiffLe)
        .when(pmod(id, lit(3L)) === 1L, tiffBe)
        .otherwise(textHex)).as("payload"))
  }

  /**
   * PNG CHUNK WALK — the [[gifFrameCount]] block-walk discipline applied
   * to PNG's length-prefixed chunk grammar: after the 8-byte signature,
   * each chunk is `u32-BE length, 4-byte type, data[length], CRC`, so the
   * walk hops by the LENGTH FIELD (a chain of data-dependent jumps, where
   * GIF chains 1-byte sub-block counts) until the IEND chunk. Readouts a
   * media-curation pipeline prices on: total chunk count, the summed IDAT
   * payload bytes (the actual compressed-image volume vs container
   * overhead), and the first tEXt chunk's NUL-terminated keyword (the
   * embedded-annotation channel — where generator tags like "Software"
   * live), probed over the first 16 data bytes with the named-read
   * discipline and returned as hex. The 16-byte probe is a declared
   * LIMIT, not a bug guard: PNG permits keywords up to 79 bytes, so the
   * reported keyword is that of the first tEXt chunk whose keyword's NUL
   * lands inside its first 16 data bytes — a tEXt with a longer keyword
   * is counted but skipped for the readout (a later short-keyword tEXt
   * then reports instead). Raise the probe window if a corpus's
   * annotation keys exceed 16 bytes. REAL parsing, no codec library, no
   * UDF; CRCs are skipped, not validated (a curation readout, not an
   * integrity checker). Truncated or over-running chunks poison the walk
   * (-1/null, never a mis-read), as does budget exhaustion.
   */
  def pngChunkWalk(
      media: DataFrame,
      maxChunks: Int = 24,
      payloadCol: String = "payload",
      idCol: String = "doc_id"
  ): DataFrame = {
    require(maxChunks >= 1 && maxChunks <= 96, "maxChunks must be in [1, 96]")
    def b1(pos: Column): Column =
      conv(hex(col("__pl").substr(pos.cast("int"), lit(1))), 16, 10).cast("long")
    def be(pos: Column, len: Int): Column =
      conv(hex(col("__pl").substr(pos.cast("int"), lit(len))), 16, 10).cast("long")
    val nb0 = octet_length(col(payloadCol)).cast("long")
    val isPng0 = nb0 >= 8L &&
      hex(col(payloadCol).substr(lit(1), lit(8))) === "89504E470D0A1A0A"
    var cur = media.select(col(idCol), col(payloadCol).as("__pl"), nb0.as("__nb"),
      isPng0.as("__png"),
      when(isPng0, lit(9L)).otherwise(lit(-1L)).as("__pos"),
      lit(0L).as("__n"), lit(0L).as("__idat"),
      lit(null).cast("string").as("__kw"),
      lit(false).as("__done"), lit(true).as("__ok"))
    val state = Seq("__pl", "__nb", "__png", "__pos", "__n", "__idat",
      "__kw", "__done", "__ok").map(col)
    for (_ <- 1 to maxChunks) {
      val pos  = col("__pos")
      val live = col("__png") && !col("__done") && pos >= 9L && pos + 7L <= col("__nb")
      // step A: NAME the per-chunk reads once (the tiffMeta plan-cost
      // discipline) — length, type, and liveness feed every fold branch
      cur = cur.select(col(idCol) +: state :+
        be(pos, 4).as("__len") :+
        hex(col("__pl").substr((pos + 4L).cast("int"), lit(4))).as("__typ") :+
        live.as("__live"): _*)
      val len = col("__len"); val typ = col("__typ"); val lv = col("__live")
      // a declared length that runs past the payload poisons the walk
      val bad = lv && (pos + 11L + len > col("__nb"))
      // step B: the tEXt keyword NUL probe over the first 16 data bytes,
      // named before the folds (each read appears ONCE in the plan)
      val kwl = (0 until 16).foldRight(lit(-1L)) { (j, rest) =>
        when(lit(j.toLong) < len && b1(pos + 8L + j) === 0L, lit(j.toLong)).otherwise(rest)
      }
      cur = cur.select(col(idCol) +: state :+ col("__len") :+ col("__typ") :+
        col("__live") :+ bad.as("__bad") :+ kwl.as("__kwl"): _*)
      val bd  = col("__bad"); val kl = col("__kwl")
      val isEnd  = lv && !bd && typ === "49454E44"
      val isIdat = lv && !bd && typ === "49444154"
      val isText = lv && !bd && typ === "74455874"
      cur = cur.select(col(idCol), col("__pl"), col("__nb"), col("__png"),
        when(lv && !bd && !isEnd, pos + 12L + len).otherwise(pos).as("__pos"),
        when(lv && !bd, col("__n") + 1L).otherwise(col("__n")).as("__n"),
        when(isIdat, col("__idat") + len).otherwise(col("__idat")).as("__idat"),
        when(isText && col("__kw").isNull && kl >= 1L,
          hex(col("__pl").substr((pos + 8L).cast("int"), kl.cast("int"))))
          .otherwise(col("__kw")).as("__kw"),
        (col("__done") || isEnd || coalesce(bd, lit(false))).as("__done"),
        (col("__ok") && !coalesce(bd, lit(false))).as("__ok"))
    }
    cur.select(
      col(idCol),
      when(col("__png"), "png").otherwise("raw").as("format"),
      col("__nb").as("n_bytes"),
      when(col("__png") && col("__done") && col("__ok"), col("__n"))
        .otherwise(lit(-1L)).as("n_chunks"),
      when(col("__png") && col("__done") && col("__ok"), col("__idat"))
        .otherwise(lit(-1L)).as("idat_bytes"),
      when(col("__png") && col("__done") && col("__ok"), col("__kw"))
        .otherwise(lit(null).cast("string")).as("text_kw_hex"))
  }

  /**
   * FIXTURE WRAPPER for [[pngChunkWalk]] (gate/spec harness aid): even
   * ids wrap the doc text in a REAL chunked PNG — IHDR (id-derived
   * dimensions), a tEXt chunk whose NUL-terminated keyword varies in
   * LENGTH with the id (3–8 bytes of "keywords") and whose value is the
   * doc text, 1–3 IDAT chunks of id-derived length, then IEND — so the
   * length-field hops, the keyword probe, and the IDAT sum all execute.
   * Odd ids stay raw. CRC fields are present (zeroed) and skipped, as
   * the walk documents. The oracle rebuilds the identical hex stream.
   */
  def syntheticPngChunks(docs: DataFrame): DataFrame = {
    val id      = col("doc_id")
    val textHex = hex(encode(col("text"), "UTF-8"))
    def beHex(v: Column, n: Int): Column =
      concat((0 until n).map(i =>
        lpad(hex(pmod(shiftright(v, 8 * (n - 1 - i)), lit(256L))), 2, "0")): _*)
    val w = lit(1L) + pmod(id * 13L, lit(4000L))
    val h = lit(1L) + pmod(id * 19L, lit(4000L))
    // keyword = first 3 + id%6 chars of "keywords" (hex literals keep the
    // fixture and the oracle on one spelling)
    val kwHex = when(pmod(id, lit(6L)) === 0L, "6B6579")
      .when(pmod(id, lit(6L)) === 1L, "6B657977")
      .when(pmod(id, lit(6L)) === 2L, "6B6579776F")
      .when(pmod(id, lit(6L)) === 3L, "6B6579776F72")
      .when(pmod(id, lit(6L)) === 4L, "6B6579776F7264")
      .otherwise(lit("6B6579776F726473"))
    val kwLen   = lit(3L) + pmod(id, lit(6L))
    val textLen = octet_length(encode(col("text"), "UTF-8")).cast("long")
    val nIdat   = lit(1L) + pmod(id, lit(3L))
    val idatLen = lit(5L) + pmod(id, lit(7L))
    val ihdr = concat(lit("0000000D49484452"), beHex(w, 4), beHex(h, 4),
      lit("080200000000000000"))
    val text = concat(beHex(kwLen + 1L + textLen, 4), lit("74455874"),
      kwHex, lit("00"), textHex, lit("00000000"))
    val idat = concat(beHex(idatLen, 4), lit("49444154"),
      expr("repeat('AB', CAST(5 + doc_id % 7 AS INT))"), lit("00000000"))
    val idats = concat(idat,
      when(nIdat >= 2L, idat).otherwise(lit("")),
      when(nIdat >= 3L, idat).otherwise(lit("")))
    val pngHex = concat(lit("89504E470D0A1A0A"), ihdr, text, idats,
      lit("0000000049454E4400000000"))
    docs.select(id,
      unhex(when(pmod(id, lit(2L)) === 0L, pngHex).otherwise(textHex)).as("payload"))
  }

  /**
   * ZIP/OOXML CENTRAL-DIRECTORY WALK — the container format every real
   * crawl actually contains (docx/xlsx/epub/jar are all ZIP), read the
   * way `unzip -l` reads it: find the End-Of-Central-Directory record by
   * scanning BACKWARD from the payload tail (EOCD is sig `PK\x05\x06` +
   * 18 fixed bytes + a variable trailing archive comment, so its start
   * floats; candidates are validated by `pos + 22 + comment_len ==
   * file_end`, never by signature alone), then hop to the central
   * directory at the EOCD's u32-LE offset and walk its entries — each
   * `46 + name_len + extra_len + comment_len` bytes, three u16-LE
   * length fields driving the hop (the TIFF/PNG named-read offset-hop
   * discipline, little-endian this time). Readouts a curation pipeline
   * prices on: entry count, summed compressed/uncompressed byte volumes
   * (the compression-ratio signal), and the first entry's name (probed
   * to `min(name_len, 16)` bytes — a declared cap like the PNG keyword
   * probe — and returned as hex; an OOXML doc announces itself by
   * `[Content_Types].xml`-style names). Consistency is enforced, not
   * assumed: the central directory must end exactly at the EOCD
   * (`cd_offset + cd_size == eocd_pos`), every entry must carry the
   * `PK\x01\x02` signature and fit the payload, and a walk the
   * `maxEntries` budget can't finish poisons to -1/null — honest, never
   * a mis-read. The EOCD backward scan probes 16 candidate positions
   * (archive comments up to 15 bytes; longer-comment archives report
   * raw — a declared limit). REAL parsing, no codec library, no UDF;
   * CRCs skipped, not validated. Scale shape: row-local projection
   * chain, payload bytes never shuffle.
   */
  def zipCentralDirectory(
      media: DataFrame,
      maxEntries: Int = 8,
      payloadCol: String = "payload",
      idCol: String = "doc_id"
  ): DataFrame = {
    require(maxEntries >= 1 && maxEntries <= 64, "maxEntries must be in [1, 64]")
    def b1(pos: Column): Column =
      conv(hex(col("__pl").substr(pos.cast("int"), lit(1))), 16, 10).cast("long")
    def u16(pos: Column): Column = b1(pos) + b1(pos + 1L) * 256L
    def u32(pos: Column): Column =
      b1(pos) + b1(pos + 1L) * 256L + b1(pos + 2L) * 65536L + b1(pos + 3L) * 16777216L
    def sig4(pos: Column): Column = hex(col("__pl").substr(pos.cast("int"), lit(4)))
    val nb0 = octet_length(col(payloadCol)).cast("long")
    var cur = media.select(col(idCol), col(payloadCol).as("__pl"), nb0.as("__nb"))
    // EOCD backward scan: first (= tail-most) candidate whose sig AND
    // comment-length self-consistency both hold
    val pCand = (0 until 16).foldRight(lit(-1L)) { (off, rest) =>
      val p = col("__nb") - lit(21L + off)
      when(p >= 1L && sig4(p) === "504B0506" && p + 21L + u16(p + 20L) === col("__nb"), p)
        .otherwise(rest)
    }
    cur = cur.select(col(idCol), col("__pl"), col("__nb"), pCand.as("__p"))
    val p0 = col("__p")
    cur = cur.select(col(idCol), col("__pl"), col("__nb"), col("__p"),
      (p0 >= 1L).as("__zip"),
      when(p0 >= 1L, u16(p0 + 10L)).otherwise(lit(-1L)).as("__tot"),
      when(p0 >= 1L, u32(p0 + 12L)).otherwise(lit(-1L)).as("__cds"),
      when(p0 >= 1L, u32(p0 + 16L) + 1L).otherwise(lit(-1L)).as("__q"))
    // up-front directory-bounds consistency: the CD must END at the EOCD
    cur = cur.select(col(idCol), col("__pl"), col("__nb"), col("__zip"), col("__p"),
      col("__tot"), col("__q"),
      lit(0L).as("__n"), lit(0L).as("__c"), lit(0L).as("__u"),
      lit(null).cast("string").as("__nm"),
      (col("__tot") === 0L).as("__done"),
      (!col("__zip") || (col("__q") >= 1L && col("__q") + col("__cds") === col("__p")))
        .as("__ok"))
    val state = Seq("__pl", "__nb", "__zip", "__p", "__tot", "__q",
      "__n", "__c", "__u", "__nm", "__done", "__ok").map(col)
    for (_ <- 1 to maxEntries) {
      val q    = col("__q")
      val live = col("__zip") && col("__ok") && !col("__done") && q >= 1L && q + 45L <= col("__nb")
      // step A: NAME the per-entry reads once (the tiffMeta plan-cost
      // discipline) — signature, the three hop lengths, the two volumes
      cur = cur.select(col(idCol) +: state :+
        sig4(q).as("__sig") :+ u16(q + 28L).as("__nl") :+ u16(q + 30L).as("__el") :+
        u16(q + 32L).as("__cl") :+ u32(q + 20L).as("__cc") :+ u32(q + 24L).as("__uu") :+
        live.as("__live"): _*)
      val lv = col("__live"); val nl = col("__nl"); val el = col("__el"); val cl = col("__cl")
      val bad = lv && (col("__sig") =!= "504B0102" || q + 45L + nl + el + cl > col("__nb"))
      // step B: the name probe reads off the NAMED name_len
      cur = cur.select(col(idCol) +: state :+ col("__nl") :+ col("__el") :+ col("__cl") :+
        col("__cc") :+ col("__uu") :+ col("__live") :+ bad.as("__bad") :+
        hex(col("__pl").substr((q + 46L).cast("int"), least(nl, lit(16L)).cast("int")))
          .as("__nmp"): _*)
      val bd  = coalesce(col("__bad"), lit(false))
      val adv = col("__live") && !bd
      cur = cur.select(col(idCol), col("__pl"), col("__nb"), col("__zip"), col("__p"),
        col("__tot"),
        when(adv, q + 46L + col("__nl") + col("__el") + col("__cl")).otherwise(q).as("__q"),
        when(adv, col("__n") + 1L).otherwise(col("__n")).as("__n"),
        when(adv, col("__c") + col("__cc")).otherwise(col("__c")).as("__c"),
        when(adv, col("__u") + col("__uu")).otherwise(col("__u")).as("__u"),
        when(adv && col("__n") === 0L, col("__nmp")).otherwise(col("__nm")).as("__nm"),
        (col("__done") || (adv && col("__n") + 1L === col("__tot")) || bd).as("__done"),
        (col("__ok") && !bd).as("__ok"))
    }
    val good = col("__zip") && col("__done") && col("__ok")
    cur.select(
      col(idCol),
      when(col("__zip"), "zip").otherwise("raw").as("format"),
      col("__nb").as("n_bytes"),
      when(good, col("__tot")).otherwise(lit(-1L)).as("n_entries"),
      when(good, col("__c")).otherwise(lit(-1L)).as("comp_bytes"),
      when(good, col("__u")).otherwise(lit(-1L)).as("uncomp_bytes"),
      when(good, col("__nm")).otherwise(lit(null).cast("string")).as("first_name_hex"))
  }

  /**
   * FIXTURE WRAPPER for [[zipCentralDirectory]] (gate/spec harness aid):
   * `doc_id % 4 != 3` wraps the doc text in a REAL multi-entry ZIP —
   * 1–3 entries (`1 + id % 3`): entry 0 STORES the doc text under a name
   * whose length varies with the id (3–8 bytes of "manifest" — the name
   * probe), entries 1/2 are deflate-flagged synthetic payloads whose
   * compressed and uncompressed sizes DIFFER (the ratio readout), entry
   * 1's central record carries a 0–2 byte comment (the comment-length
   * hop), and the EOCD carries a 0–11 byte archive comment (the backward
   * scan). Local headers, central directory, and EOCD are all present
   * with correct LE sizes and offsets; CRCs are zeroed and skipped, as
   * the walk documents. Odd-one-out ids stay raw. The oracle rebuilds
   * the identical hex stream.
   */
  def syntheticZips(docs: DataFrame): DataFrame = {
    val id      = col("doc_id")
    val textHex = hex(encode(col("text"), "UTF-8"))
    def leHex(v: Column, n: Int): Column =
      concat((0 until n).map(i =>
        lpad(hex(pmod(shiftright(v, 8 * i), lit(256L))), 2, "0")): _*)
    val textLen = octet_length(encode(col("text"), "UTF-8")).cast("long")
    val nE   = lit(1L) + pmod(id, lit(3L))
    val nm0  = when(pmod(id, lit(6L)) === 0L, "6D616E")
      .when(pmod(id, lit(6L)) === 1L, "6D616E69")
      .when(pmod(id, lit(6L)) === 2L, "6D616E6966")
      .when(pmod(id, lit(6L)) === 3L, "6D616E696665")
      .when(pmod(id, lit(6L)) === 4L, "6D616E69666573")
      .otherwise(lit("6D616E6966657374"))
    val nl0  = lit(3L) + pmod(id, lit(6L))
    val c1   = lit(5L) + pmod(id, lit(9L));      val u1 = c1 + 11L
    val c2   = lit(5L) + pmod(id + 3L, lit(9L)); val u2 = c2 + 23L
    val cmt1 = pmod(id, lit(3L))
    val cmt1Hex = lit("4E4F").substr(lit(1), (cmt1 * 2L).cast("int"))
    val zc      = pmod(id * 7L, lit(12L))
    val zcHex   = lit("7A697066696C652D6E6F7465").substr(lit(1), (zc * 2L).cast("int"))
    val data1 = expr("repeat('AB', CAST(5 + doc_id % 9 AS INT))")
    val data2 = expr("repeat('CD', CAST(5 + (doc_id + 3) % 9 AS INT))")
    def lfh(methHex: String, c: Column, u: Column, nl: Column,
            nameHex: Column, dataHex: Column): Column =
      concat(lit("504B03041400" + "0000" + methHex + "0000" + "0000" + "00000000"),
        leHex(c, 4), leHex(u, 4), leHex(nl, 2), lit("0000"), nameHex, dataHex)
    def cde(methHex: String, c: Column, u: Column, nl: Column, cmt: Column,
            off: Column, nameHex: Column, cmtHex: Column): Column =
      concat(lit("504B0102" + "1E03" + "1400" + "0000" + methHex + "0000" + "0000" + "00000000"),
        leHex(c, 4), leHex(u, 4), leHex(nl, 2), lit("0000"), leHex(cmt, 2),
        lit("0000" + "0000" + "00000000"), leHex(off, 4), nameHex, cmtHex)
    val off1   = lit(30L) + nl0 + textLen
    val off2   = off1 + 36L + c1
    val cdOff  = off1 + when(nE >= 2L, c1 + 36L).otherwise(lit(0L)) +
      when(nE >= 3L, c2 + 36L).otherwise(lit(0L))
    val cdSize = lit(46L) + nl0 + when(nE >= 2L, cmt1 + 52L).otherwise(lit(0L)) +
      when(nE >= 3L, lit(52L)).otherwise(lit(0L))
    val zipHex = concat(
      lfh("0000", textLen, textLen, nl0, nm0, textHex),
      when(nE >= 2L, lfh("0800", c1, u1, lit(6L), lit("656E74727931"), data1)).otherwise(lit("")),
      when(nE >= 3L, lfh("0800", c2, u2, lit(6L), lit("656E74727932"), data2)).otherwise(lit("")),
      cde("0000", textLen, textLen, nl0, lit(0L), lit(0L), nm0, lit("")),
      when(nE >= 2L, cde("0800", c1, u1, lit(6L), cmt1, off1, lit("656E74727931"), cmt1Hex))
        .otherwise(lit("")),
      when(nE >= 3L, cde("0800", c2, u2, lit(6L), lit(0L), off2, lit("656E74727932"), lit("")))
        .otherwise(lit("")),
      lit("504B0506" + "0000" + "0000"), leHex(nE, 2), leHex(nE, 2),
      leHex(cdSize, 4), leHex(cdOff, 4), leHex(zc, 2), zcHex)
    docs.select(id,
      unhex(when(pmod(id, lit(4L)) =!= 3L, zipHex).otherwise(textHex)).as("payload"))
  }

  /**
   * TAR (ustar) HEADER WALK — the third crawl-container discipline next
   * to the length-prefix hop (PNG/ZIP) and the pointer chase (TIFF):
   * tar interleaves 512-byte header blocks with NUL-padded data, and the
   * hop length comes from an ASCII-OCTAL size field — text-encoded
   * numerics inside a binary container, parsed with pure byte
   * arithmetic. Detection is the `ustar` magic at header offset 257;
   * each block then reads the name (first-NUL probe over the first 16 of
   * the 100 name bytes — a declared cap like the PNG keyword probe; the
   * field is fixed-width NUL-padded, so a 16-byte slice of a longer name
   * is a truncation, never a mis-read), the POSIX 11-digit zero-padded
   * octal size (`Σ (byte-48)·8^k`; any byte outside '0'..'7' poisons —
   * the spec-conformant layout both GNU and BSD tar write), and the
   * typeflag ('5' = directory). The next header sits at
   * `pos + 512·(1 + ceil(size/512))`; a block whose first name byte is
   * NUL is the end-of-archive marker. Readouts: entry count, directory
   * count, summed REGULAR-file payload bytes (content volume vs the
   * 512-byte-per-entry container overhead), first entry name as hex.
   * Checksum fields are skipped, not validated (a curation readout).
   * Truncated blocks, a non-ustar header mid-archive, malformed octal,
   * or budget exhaustion poison to -1/null — honest, never a mis-read.
   * REAL parsing, no codec library, no UDF. Scale shape: row-local
   * projection chain, payload bytes never shuffle.
   */
  def tarHeaderWalk(
      media: DataFrame,
      maxEntries: Int = 8,
      payloadCol: String = "payload",
      idCol: String = "doc_id"
  ): DataFrame = {
    require(maxEntries >= 1 && maxEntries <= 64, "maxEntries must be in [1, 64]")
    def b1(pos: Column): Column =
      conv(hex(col("__pl").substr(pos.cast("int"), lit(1))), 16, 10).cast("long")
    val nb0 = octet_length(col(payloadCol)).cast("long")
    var cur = media.select(col(idCol), col(payloadCol).as("__pl"), nb0.as("__nb"))
    def magicAt(pos: Column): Column =
      hex(col("__pl").substr((pos + 257L).cast("int"), lit(5))) === "7573746172"
    val isTar = col("__nb") >= 512L && magicAt(lit(1L))
    cur = cur.select(col(idCol), col("__pl"), col("__nb"), isTar.as("__tar"),
      when(isTar, lit(1L)).otherwise(lit(-1L)).as("__pos"),
      lit(0L).as("__n"), lit(0L).as("__dirs"), lit(0L).as("__fb"),
      lit(null).cast("string").as("__nm"),
      lit(false).as("__done"), lit(true).as("__ok"))
    val state = Seq("__pl", "__nb", "__tar", "__pos", "__n", "__dirs", "__fb",
      "__nm", "__done", "__ok").map(col)
    for (_ <- 1 to maxEntries) {
      val q    = col("__pos")
      val live = col("__tar") && !col("__done") && q >= 1L && q + 511L <= col("__nb")
      // step A: NAME the per-block reads once — end marker, magic, the 11
      // octal size digits (digit-validity and value in one pass), typeflag
      val sizeVal = (0 to 10).map(j =>
        (b1(q + 124L + j) - 48L) * lit(1L << (3 * (10 - j)))).reduce(_ + _)
      val sizeOk = (0 to 10).map(j =>
        b1(q + 124L + j).between(48L, 55L)).reduce(_ && _)
      val kwl = (0 until 16).foldRight(lit(16L)) { (j, rest) =>
        when(b1(q + j) === 0L, lit(j.toLong)).otherwise(rest)
      }
      cur = cur.select(col(idCol) +: state :+
        (b1(q) === 0L).as("__end") :+ magicAt(q).as("__mag") :+
        sizeVal.as("__sz") :+ sizeOk.as("__szok") :+
        b1(q + 156L).as("__tf") :+ kwl.as("__kwl") :+ live.as("__live"): _*)
      val lv  = col("__live"); val end = col("__end")
      val bad = lv && !end && (!col("__mag") || !col("__szok"))
      // step B: the name probe reads off the NAMED first-NUL index
      cur = cur.select(col(idCol) +: state :+ col("__end") :+ col("__sz") :+
        col("__tf") :+ col("__live") :+ bad.as("__bad") :+
        hex(col("__pl").substr(q.cast("int"), col("__kwl").cast("int"))).as("__nmp"): _*)
      val bd  = coalesce(col("__bad"), lit(false))
      val adv = col("__live") && !col("__end") && !bd
      val sz  = col("__sz")
      cur = cur.select(col(idCol), col("__pl"), col("__nb"), col("__tar"),
        // next header: skip this one + the size's 512-padded data blocks
        // (ceil(size/512) via an exact integer shift — never float math)
        when(adv, q + 512L + shiftright(sz + 511L, 9) * 512L)
          .otherwise(q).as("__pos"),
        when(adv, col("__n") + 1L).otherwise(col("__n")).as("__n"),
        when(adv && col("__tf") === 53L, col("__dirs") + 1L).otherwise(col("__dirs")).as("__dirs"),
        when(adv && col("__tf") =!= 53L, col("__fb") + sz).otherwise(col("__fb")).as("__fb"),
        when(adv && col("__n") === 0L, col("__nmp")).otherwise(col("__nm")).as("__nm"),
        (col("__done") || (col("__live") && col("__end")) || bd).as("__done"),
        (col("__ok") && !bd).as("__ok"))
    }
    val good = col("__tar") && col("__done") && col("__ok")
    cur.select(
      col(idCol),
      when(col("__tar"), "tar").otherwise("raw").as("format"),
      col("__nb").as("n_bytes"),
      when(good, col("__n")).otherwise(lit(-1L)).as("n_entries"),
      when(good, col("__dirs")).otherwise(lit(-1L)).as("n_dirs"),
      when(good, col("__fb")).otherwise(lit(-1L)).as("file_bytes"),
      when(good, col("__nm")).otherwise(lit(null).cast("string")).as("first_name_hex"))
  }

  /**
   * FIXTURE WRAPPER for [[tarHeaderWalk]] (gate/spec harness aid):
   * `doc_id % 4 != 1` wraps the doc text in a REAL ustar stream — 1–3
   * entries (`1 + id % 3`): entry 0 stores the doc text as a regular
   * file under a name whose length varies with the id (3–8 bytes of
   * "manifest" — the NUL probe), entry 1 is a DIRECTORY (`data/`,
   * typeflag '5', size 0 — the dir counter), entry 2 a regular file of
   * id-derived length (multi-block data padding), all with POSIX
   * 11-digit zero-padded octal sizes, zeroed mtimes, space checksums,
   * and two zero end-blocks. Other ids stay raw. The oracle rebuilds
   * the identical hex stream.
   */
  def syntheticTars(docs: DataFrame): DataFrame = {
    val id      = col("doc_id")
    val textHex = hex(encode(col("text"), "UTF-8"))
    val textLen = octet_length(encode(col("text"), "UTF-8")).cast("long")
    /** POSIX size field: 11 zero-padded octal ASCII digits + NUL. */
    def octalHex(v: Column): Column =
      concat((10 to 0 by -1).map(k =>
        lpad(hex(lit(48L) + pmod(shiftright(v, 3 * k), lit(8L))), 2, "0")) :+ lit("00"): _*)
    def zeros(n: Int): String = "00" * n
    val nE  = lit(1L) + pmod(id, lit(3L))
    val nm0 = when(pmod(id, lit(6L)) === 0L, "6D616E")
      .when(pmod(id, lit(6L)) === 1L, "6D616E69")
      .when(pmod(id, lit(6L)) === 2L, "6D616E6966")
      .when(pmod(id, lit(6L)) === 3L, "6D616E696665")
      .when(pmod(id, lit(6L)) === 4L, "6D616E69666573")
      .otherwise(lit("6D616E6966657374"))
    val nl0 = lit(3L) + pmod(id, lit(6L))
    val sz2 = lit(5L) + pmod(id * 3L, lit(200L))
    // mode/uid/gid ("0000644\0", "0000000\0"), 11-zero mtime, 8-space chksum
    val fixed = "3030303036343400" + "3030303030303000" + "3030303030303000"
    val mtime = "30" * 11 + "00"
    val chks  = "20" * 8
    val tail  = "757374617200" + "3030" + zeros(247) // magic, version, rest of block
    def hdr(nameHex: Column, nameLen: Column, size: Column, typeflag: String): Column =
      concat(nameHex,
        repeatHex(lit(100L) - nameLen),
        lit(fixed), octalHex(size), lit(mtime), lit(chks), lit(typeflag),
        lit(zeros(100)), lit(tail))
    val pad0 = pmod(lit(512L) - pmod(textLen, lit(512L)), lit(512L))
    val pad2 = pmod(lit(512L) - pmod(sz2, lit(512L)), lit(512L))
    val e0 = concat(hdr(nm0, nl0, textLen, "30"), textHex, repeatHex(pad0))
    val e1 = hdr(lit("646174612F"), lit(5L), lit(0L), "35") // "data/", dir
    val e2 = concat(hdr(lit("656E747279322E62696E"), lit(10L), sz2, "30"),
      repeatAB(sz2), repeatHex(pad2))
    val tarHex = concat(e0,
      when(nE >= 2L, e1).otherwise(lit("")),
      when(nE >= 3L, e2).otherwise(lit("")),
      lit(zeros(1024)))
    docs.select(id,
      unhex(when(pmod(id, lit(4L)) =!= 1L, tarHex).otherwise(textHex)).as("payload"))
  }
  /** `n` NUL bytes as hex ("00" × n) for a runtime count. */
  private def repeatHex(n: Column): Column =
    repeat(lit("00"), greatest(n, lit(0L)).cast("int"))
  /** `n` 0xAB bytes as hex for a runtime count (entry-2 synthetic data). */
  private def repeatAB(n: Column): Column =
    repeat(lit("AB"), greatest(n, lit(0L)).cast("int"))

  /**
   * AUDIO-ENERGY WINDOWS over the raw payload BYTES — per record, the
   * byte stream is treated as unsigned PCM8 samples, cut into
   * `window`-sample frames, and each frame scores its RMS energy around
   * the 128 midpoint plus an activity flag (`rms >= threshold`) — the
   * voice-activity-detection shape (silence trimming, speech/music
   * segmentation) every audio-curation pipeline runs before the
   * expensive model pass. Unlike the decode stubs this is REAL byte
   * arithmetic end to end: the per-window RMS array comes from the
   * [[graft.functions.ByteWindows.rmsWindows]] kernel (one compiled pass over the
   * bytes — no UDF, no interpreted lambda), frame sums are exact
   * integers, and the only float ops are one divide + sqrt per frame —
   * so the DuckDB oracle replays it exactly from `hex(payload)`.
   *
   * Scale shape: row-local (no shuffle before the explode), output rows
   * = ceil(bytes/window) per record; payload bytes never shuffle — only
   * the per-frame sums survive the projection.
   */
  def audioEnergyWindows(
      media: DataFrame,
      window: Int = 256,
      threshold: Double = 40.0,
      payloadCol: String = "payload",
      idCol: String = "doc_id"
  ): DataFrame = {
    require(window >= 1, "window must be >= 1")
    graft.functions.GraftFunctions.register(media.sparkSession)
    media
      // an empty payload emits no window rows (the oracle's range(0, 0)
      // emits none); drop empties before the explode
      .filter(expr(s"octet_length($payloadCol)") > 0)
      .select(col(idCol),
        expr(s"octet_length($payloadCol)").cast("long").as("__nb"),
        graft.functions.GraftFunctions.rmsWindows(col(payloadCol), window).as("__rs"))
      .select(col(idCol), col("__nb"),
        posexplode(col("__rs")).as(Seq("window_idx", "__rms")))
      .select(col(idCol), col("window_idx").cast("long").as("window_idx"),
        // the last frame is the remainder — recovered arithmetically from
        // the byte count instead of materializing the per-window slices
        least(col("__nb") - col("window_idx") * lit(window.toLong),
          lit(window.toLong)).as("n_samples"),
        col("__rms"))
      .select(col(idCol), col("window_idx"), col("n_samples"),
        round(col("__rms"), 6).as("rms"),
        (col("__rms") >= threshold).as("active"))
  }

  /**
   * ENERGY SEGMENT BOUNDARIES — scene-change detection over the
   * [[audioEnergyWindows]] channel: a window whose RMS jumps by at least
   * `jump` against its predecessor marks a segment boundary (speech↔
   * silence, music↔speech — the cut points an audio-curation pipeline
   * samples around, and the 1-D shape of video scene detection). Same
   * REAL byte arithmetic as the VAD op — exact integer frame sums, one
   * sqrt per window — but the per-window RMS list stays row-local (one
   * array per record, never an explode-then-window), so the lag compare
   * is an in-array transform: no shuffle, no window function anywhere.
   * The boundary test compares UNROUNDED doubles (both engines build the
   * identical value from exact integers); emitted columns snap to 6 dp.
   * Output rows = boundaries only; `window_idx` is the LATER window.
   */
  def energySegments(
      media: DataFrame,
      window: Int = 256,
      jump: Double = 20.0,
      payloadCol: String = "payload",
      idCol: String = "doc_id"
  ): DataFrame = {
    require(window >= 1, "window must be >= 1")
    require(jump >= 0.0, "jump must be >= 0")
    graft.functions.GraftFunctions.register(media.sparkSession)
    media
      .filter(expr(s"octet_length($payloadCol)") > 0)
      .select(col(idCol),
        graft.functions.GraftFunctions.rmsWindows(col(payloadCol), window).as("__rs"))
      .filter(size(col("__rs")) >= 2)
      .select(col(idCol), explode(expr(
        s"filter(transform(sequence(2, size(__rs)), i -> " +
          "struct(i AS i, element_at(__rs, i - 1) AS pr, element_at(__rs, i) AS cr)), " +
          s"s -> abs(s.cr - s.pr) >= $jump)")).as("__b"))
      .select(col(idCol),
        (col("__b.i") - 1).cast("long").as("window_idx"),
        round(col("__b.pr"), 6).as("prev_rms"),
        round(col("__b.cr"), 6).as("rms"),
        round(col("__b.cr") - col("__b.pr"), 6).as("delta"))
  }

  /**
   * WAV-AWARE ENERGY WINDOWS — [[avContainerMeta]] ∘ [[audioEnergyWindows]]
   * composed end to end: parse the RIFF header from the raw bytes, keep
   * only the containers whose samples ARE bytes (PCM8 mono — wider
   * samples need a real decode path and are excluded, not mis-read), then
   * window the DATA CHUNK (bytes 45+) exactly as the VAD op does, with
   * each window stamped `t_start_sec` from the container's own sample
   * rate. The "parse the container, then do signal math on its payload"
   * pipeline in one declarative plan — header reads, chunk slice and
   * frame sums are all codegen'd builtins; the only join is the tiny
   * header-metadata relation back onto the payload by id.
   */
  def wavEnergyWindows(
      media: DataFrame,
      window: Int = 256,
      threshold: Double = 40.0,
      payloadCol: String = "payload",
      idCol: String = "doc_id"
  ): DataFrame = {
    val meta = avContainerMeta(media, payloadCol, idCol)
      .filter(col("format") === "wav" && col("bits") === 8L && col("channels") === 1L)
      .select(col(idCol), col("sample_rate"))
    val data = media.select(col(idCol),
      expr(s"substring($payloadCol, 45, octet_length($payloadCol) - 44)").as("payload"))
    audioEnergyWindows(meta.join(data, Seq(idCol)).select(col(idCol), col("payload")),
      window, threshold, "payload", idCol)
      .join(meta, Seq(idCol))
      .select(col(idCol), col("window_idx"), col("n_samples"), col("rms"), col("active"),
        round((col("window_idx") * lit(window.toLong)).cast("double")
          / col("sample_rate").cast("double"), 6).as("t_start_sec"))
  }

  /**
   * Partition-batched decode: the mapPartitions/mapInPandas shape a real
   * codec needs (amortize model/codec init per batch, bounded batch
   * memory). The per-record decode is the same STUB arithmetic.
   */
  def decodeBatched(media: DataFrame, batchSize: Int = 64): DataFrame = {
    val spark = media.sparkSession
    val out = media.select(col("doc_id"), col("payload")).rdd.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        // >>> STUB: real codec would decode `batch` here in one native call
        batch.map { r =>
          val id    = r.getLong(0)
          val bytes = r.getAs[Array[Byte]](1)
          Row(id, bytes.length.toLong, (64 + bytes.length % 193).toLong, (64 + (bytes.length * 31) % 177).toLong, 3L)
        }
      }
    }
    spark.createDataFrame(out, MediaMetaSchema)
  }

  /** schema of a resized media record. */
  val ResizedSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("payload", BinaryType),
    StructField("width", LongType),
    StructField("height", LongType),
    StructField("n_bytes", LongType)
  ))

  /**
   * Partition-batched "resize" to target dimensions: emits a new binary
   * payload whose size scales the source by the pixel-count ratio against
   * the decoded dimensions (aspect math a real resampler would follow).
   * STUB: output bytes are a deterministic function of source length; the
   * real parts are the batching, the binary-out schema, and the size
   * arithmetic — at 100 TB this is the shape of a recompression pass
   * (map-only, no shuffle, bounded batch memory).
   */
  def resizeBatched(media: DataFrame, targetW: Int = 64, targetH: Int = 64, batchSize: Int = 64): DataFrame = {
    val spark = media.sparkSession
    val out = media.select(col("doc_id"), col("payload")).rdd.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        // >>> STUB: real resampler would process `batch` in one native call
        batch.map { r =>
          val id     = r.getLong(0)
          val srcLen = r.getAs[Array[Byte]](1).length.toLong
          val w0     = 64 + srcLen % 193
          val h0     = 64 + (srcLen * 31) % 177
          val outLen = math.max(1L, srcLen * (targetW.toLong * targetH) / (w0 * h0))
          val bytes  = Array.tabulate(outLen.toInt)(i => ((srcLen * 31 + i) % 251).toByte)
          Row(id, bytes, targetW.toLong, targetH.toLong, outLen)
        }
      }
    }
    spark.createDataFrame(out, ResizedSchema)
  }

  /**
   * Partition-batched feature extraction — the inference shape (encoder
   * init amortized per partition, bounded batch memory, map-only). STUB:
   * each embedding component is the portable polynomial code-point fold
   * ([[graft.functions.PortableHash.wordPoly]]) at a per-dimension seed,
   * normalized to [0,1) — deterministic, engine-portable (the DuckDB
   * oracle replays it), and the output feeds [[Similarity]] unchanged:
   * media → embeddings → ANN composes end to end.
   */
  def embedBatched(media: DataFrame, dim: Int = 4, batchSize: Int = 64): DataFrame = {
    import graft.functions.PortableHash
    val spark = media.sparkSession
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("embedding", ArrayType(DoubleType))
    ))
    val out = media.select(col("doc_id"), col("payload")).rdd.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        // >>> STUB: real encoder would embed `batch` in one forward pass
        batch.map { r =>
          val id    = r.getLong(0)
          val bytes = r.getAs[Array[Byte]](1)
          val emb = Array.tabulate(dim) { j =>
            PortableHash.wordPoly(bytes, 0, bytes.length, 131L, j.toLong).toDouble / PortableHash.P31
          }
          Row(id, emb)
        }
      }
    }
    spark.createDataFrame(out, schema)
  }

  /**
   * Frame sampling: one row per sampled frame with its byte offset —
   * the standard explode shape for video/audio windowing. Frame count is
   * a deterministic function of payload size (STUB for container parsing).
   */
  def frameSample(media: DataFrame, frameBytes: Int = 64, maxFrames: Int = 8): DataFrame = {
    val nFrames = least(greatest(octet_length(col("payload")).divide(frameBytes).cast(IntegerType), lit(1)), lit(maxFrames))
    media.select(
      col("doc_id"),
      octet_length(col("payload")).cast("long").as("n_bytes"),
      posexplode(sequence(lit(0), nFrames - 1)).as(Seq("frame_idx", "frame_no"))
    ).select(
      col("doc_id"),
      col("frame_idx").cast("long").as("frame_idx"),
      (col("frame_idx") * frameBytes).cast("long").as("byte_offset"),
      col("n_bytes")
    )
  }
}
