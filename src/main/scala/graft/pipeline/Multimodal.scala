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
   * parsing for the two fixed-layout image containers, no codec library:
   * one compiled pass of [[graft.functions.ContainerKernels.containerMeta]]
   * per payload (every container decode below has its kernel there):
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
   *    walk takes at most `maxSegments` steps — a desynced or SOF-less
   *    stream falls through to the stub.
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
    decode(media, "graft_container_meta", payloadCol, idCol, maxSegments)
  }

  /** `select(id, <kernel>(payload, caps…).*)`: one compiled call of a
    * [[graft.functions.ContainerKernels]] decoder per row, its struct
    * expanded to the operator's output columns. */
  private def decode(media: DataFrame, fn: String, payloadCol: String, idCol: String,
      caps: Int*): DataFrame = {
    media.select(col(idCol), call_function(fn, col(payloadCol) +: caps.map(c => lit(c)): _*).as("__k"))
      .select(col(idCol), col("__k.*"))
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
   * classic LE containers, no codec library:
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
   * at −1 (n_bytes stays real). Row-local: no shuffle, no explode;
   * payload bytes never leave the scan projection — at 100 TB this is a
   * map-only metadata sweep.
   */
  def avContainerMeta(
      media: DataFrame,
      payloadCol: String = "payload",
      idCol: String = "doc_id"
  ): DataFrame = decode(media, "graft_av_container_meta", payloadCol, idCol)

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
   * codec library (the [[containerMeta]] JPEG-marker walk applied to
   * GIF's block grammar):
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
   * The walk takes at most `maxBlocks` steps; each step consumes one
   * block header or one sub-block. A GIF whose walk does
   * not reach the trailer within the budget (real-world frames carry
   * many KB-sized sub-blocks) reports `n_frames = -1` — honest "not
   * decoded", never a guess; raising `maxBlocks` buys depth linearly.
   * Non-GIF payloads report `format = 'raw'`, `n_frames = -1`.
   *
   * Scale shape: row-local — payload bytes never shuffle; only (id,
   * format, n_bytes, n_frames) survive.
   */
  def gifFrameCount(
      media: DataFrame,
      maxBlocks: Int = 24,
      payloadCol: String = "payload",
      idCol: String = "doc_id"
  ): DataFrame = {
    require(maxBlocks >= 1 && maxBlocks <= 96, "maxBlocks must be in [1, 96]")
    decode(media, "graft_gif_frames", payloadCol, idCol, maxBlocks)
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
   * it, which is exactly the bug farm a codec library hides. No library:
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
   * The scan reads at most `maxEntries` entries, gated by the declared
   * entry count; a tag living beyond the budget is simply not found (its
   * field stays −1 — honest, never a guess), and `n_entries` always
   * reports the declared count. Non-TIFF payloads report `format='raw'`.
   * Scale shape: row-local, payload bytes never shuffle.
   */
  def tiffMeta(
      media: DataFrame,
      maxEntries: Int = 16,
      payloadCol: String = "payload",
      idCol: String = "doc_id"
  ): DataFrame = {
    require(maxEntries >= 1 && maxEntries <= 64, "maxEntries must be in [1, 64]")
    decode(media, "graft_tiff_meta", payloadCol, idCol, maxEntries)
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
   * IFD), and that sub-IFD is scanned the same way (at most
   * `maxExifEntries` entries) for ISOSpeedRatings (tag 34855) and ExposureTime (tag
   * 33434) — a RATIONAL whose value field is itself a third pointer to
   * an 8-byte num/den pair. Two chained pointer hops (IFD0 → Exif IFD →
   * rational payload), both byte orders; no codec library. Non-TIFF
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
    decode(media, "graft_tiff_exif_meta", payloadCol, idCol, maxEntries, maxExifEntries)
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
   * live), probed over the first 16 data bytes and returned as hex. The 16-byte probe is a declared
   * LIMIT, not a bug guard: PNG permits keywords up to 79 bytes, so the
   * reported keyword is that of the first tEXt chunk whose keyword's NUL
   * lands inside its first 16 data bytes — a tEXt with a longer keyword
   * is counted but skipped for the readout (a later short-keyword tEXt
   * then reports instead). Raise the probe window if a corpus's
   * annotation keys exceed 16 bytes. REAL parsing, no codec library;
   * CRCs are skipped, not validated (a curation readout, not an
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
    decode(media, "graft_png_chunks", payloadCol, idCol, maxChunks)
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
   * length fields driving the hop (the TIFF/PNG offset hop,
   * little-endian this time). Readouts a curation pipeline
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
   * raw — a declared limit). REAL parsing, no codec library; CRCs
   * skipped, not validated. Scale shape: row-local, payload bytes never
   * shuffle.
   */
  def zipCentralDirectory(
      media: DataFrame,
      maxEntries: Int = 8,
      payloadCol: String = "payload",
      idCol: String = "doc_id"
  ): DataFrame = {
    require(maxEntries >= 1 && maxEntries <= 64, "maxEntries must be in [1, 64]")
    decode(media, "graft_zip_directory", payloadCol, idCol, maxEntries)
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
   * REAL parsing, no codec library. Scale shape: row-local, payload
   * bytes never shuffle.
   */
  def tarHeaderWalk(
      media: DataFrame,
      maxEntries: Int = 8,
      payloadCol: String = "payload",
      idCol: String = "doc_id"
  ): DataFrame = {
    require(maxEntries >= 1 && maxEntries <= 64, "maxEntries must be in [1, 64]")
    decode(media, "graft_tar_headers", payloadCol, idCol, maxEntries)
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
   * pipeline in one declarative plan — header reads and frame sums are
   * compiled kernels, the chunk slice a builtin; the only join is the tiny
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
