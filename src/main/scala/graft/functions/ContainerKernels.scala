package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, Hex}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Container-header decoders behind the `graft_*` decode functions of
 * [[graft.pipeline.Multimodal]]: one bounded walk per format over a
 * payload's bytes, each answering the operator's output fields as one
 * struct. The operators' scaladocs describe the formats; every answer must
 * equal the `OracleGen` SQL mirror's bit for bit, so:
 *
 *  - positions are 1-based `Long`s, as SQL's `substring` counts them, so a
 *    PNG/ZIP length field or a tar octal size never narrows to `Int`;
 *  - a multi-byte read with any byte outside the payload has no value
 *    ([[Reader]] answers −1), and a walk stops, unchanged, at the first
 *    step whose guard fails;
 *  - a NULL payload answers `format = 'raw'` with a NULL `n_bytes` (these
 *    kernels are registered with `propagateNull = false`).
 */
object ContainerKernels {

  /** Name/keyword bytes probed for a NUL (PNG tEXt, ZIP, tar). */
  val NameProbe = 16

  /** Tail positions probed for a ZIP end-of-central-directory record
    * (archive comments of up to 15 bytes). */
  val EocdScan = 16

  private def struct(fields: String*): StructType = StructType(fields.map {
    case "format"                => StructField("format", StringType, nullable = false)
    case f if f.endsWith("_hex") => StructField(f, StringType)
    case f                       => StructField(f, LongType)
  })

  val ContainerMetaType: StructType = struct("format", "n_bytes", "width", "height", "channels")
  val AvMetaType: StructType =
    struct("format", "n_bytes", "width", "height", "sample_rate", "channels", "bits", "n_samples")
  val GifFramesType: StructType = struct("format", "n_bytes", "n_frames")
  val TiffMetaType: StructType =
    struct("format", "n_bytes", "n_entries", "width", "height", "bits", "xres_num", "xres_den")
  val TiffExifType: StructType =
    struct("format", "n_bytes", "width", "height", "n_exif", "iso", "exp_num", "exp_den")
  val PngChunksType: StructType = struct("format", "n_bytes", "n_chunks", "idat_bytes", "text_kw_hex")
  val ZipDirType: StructType =
    struct("format", "n_bytes", "n_entries", "comp_bytes", "uncomp_bytes", "first_name_hex")
  val TarHeadersType: StructType =
    struct("format", "n_bytes", "n_entries", "n_dirs", "file_bytes", "first_name_hex")

  private def utf8(s: String): UTF8String = UTF8String.fromString(s)
  private val Raw = utf8("raw")

  private def sig(hex: String): Array[Byte] =
    hex.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
  private val PngSig = sig("89504E470D0A1A0A")
  private val Ihdr   = sig("49484452")
  private val Soi    = sig("FFD8")
  private val Riff   = sig("52494646")
  private val Wave   = sig("57415645")
  private val Fmt    = sig("666D7420")
  private val Data   = sig("64617461")
  private val Gif89a = sig("474946383961")
  private val Gif87a = sig("474946383761")
  private val Bm     = sig("424D")
  private val TiffLe = sig("49492A00")
  private val TiffBe = sig("4D4D002A")
  private val Eocd   = sig("504B0506")
  private val CdSig  = sig("504B0102")
  private val Ustar  = sig("7573746172")

  private def row(values: Any*): InternalRow = new GenericInternalRow(values.toArray)

  /** `format` and `n_bytes`, then every other field at its not-decoded
    * value: −1, or NULL for a `*_hex` field. */
  private def undecoded(t: StructType, format: UTF8String, nBytes: Any): InternalRow =
    row(format +: nBytes +: t.fields.drop(2).map(f => if (f.dataType == LongType) -1L else null).toSeq: _*)

  /** Unsigned reads at 1-based positions; −1 when a byte lies outside. */
  private final class Reader(a: Array[Byte]) {
    val n: Long = a.length
    private def in(p: Long, len: Long): Boolean = p >= 1 && p + len - 1 <= n
    def u8(p: Long): Long = if (in(p, 1)) a((p - 1).toInt) & 0xFFL else -1L
    def be(p: Long, len: Int): Long = if (!in(p, len)) -1L else {
      var v = 0L; var i = 0
      while (i < len) { v = (v << 8) | u8(p + i); i += 1 }
      v
    }
    def le(p: Long, len: Int): Long = if (!in(p, len)) -1L else {
      var v = 0L; var i = len - 1
      while (i >= 0) { v = (v << 8) | u8(p + i); i -= 1 }
      v
    }
    def u16(p: Long, little: Boolean): Long = if (little) le(p, 2) else be(p, 2)
    def u32(p: Long, little: Boolean): Long = if (little) le(p, 4) else be(p, 4)
    def is(p: Long, s: Array[Byte]): Boolean =
      in(p, s.length) && java.util.Arrays.equals(a, (p - 1).toInt, (p - 1).toInt + s.length, s, 0, s.length)
    /** first `j < len` with byte `p + j` NUL, else `absent`. */
    def nul(p: Long, len: Long, absent: Long): Long = {
      var j = 0L
      while (j < len && u8(p + j) != 0) j += 1
      if (j < len) j else absent
    }
    /** `hex(substring(payload, p, len))`, for `p` inside the payload. */
    def hex(p: Long, len: Long): UTF8String =
      Hex.hex(java.util.Arrays.copyOfRange(a, (p - 1).toInt, math.min(n, p - 1 + len).toInt))
  }

  /** PNG IHDR at fixed offsets, else a bounded JPEG marker walk from byte
    * 3 to the first SOF0–SOF3 header, else the size-derived stub. */
  def containerMeta(payload: Array[Byte], maxSegments: Int): InternalRow = {
    if (payload == null) return row(Raw, null, null, null, 3L)
    val r  = new Reader(payload)
    val nb = r.n
    var pos = 3L; var h = -1L; var w = -1L; var c = -1L
    var s = 0
    while (s < maxSegments && h < 0 && pos >= 3) {
      if (pos + 9 <= nb && r.u8(pos) == 0xFF) {
        val marker = r.u8(pos + 1)
        if (marker >= 0xC0 && marker <= 0xC3) { h = r.be(pos + 5, 2); w = r.be(pos + 7, 2); c = r.u8(pos + 9) }
        else pos += 2 + r.be(pos + 2, 2)
      } else pos = -1
      s += 1
    }
    if (nb >= 33 && r.is(1, PngSig) && r.is(13, Ihdr)) {
      val channels = r.u8(26) match { case 0L | 3L => 1L; case 4L => 2L; case 6L => 4L; case _ => 3L }
      row(utf8("png"), nb, r.be(17, 4), r.be(21, 4), channels)
    } else if (nb >= 4 && r.is(1, Soi) && h >= 0) row(utf8("jpeg"), nb, w, h, c)
    else row(Raw, nb, 64 + nb % 193, 64 + nb * 31 % 177, 3L)
  }

  /** canonical WAV, GIF 87a/89a and BMP headers at fixed little-endian
    * offsets. */
  def avContainerMeta(payload: Array[Byte]): InternalRow = {
    if (payload == null) return undecoded(AvMetaType, Raw, null)
    val r  = new Reader(payload)
    val nb = r.n
    def signed32(u: Long): Long = if (u >= (1L << 31)) u - (1L << 32) else u
    if (nb >= 44 && r.is(1, Riff) && r.is(9, Wave) && r.is(13, Fmt) && r.is(37, Data)) {
      val align = r.le(33, 2)
      row(utf8("wav"), nb, -1L, -1L, r.le(25, 4), r.le(23, 2), r.le(35, 2),
        if (align > 0) (r.le(41, 4).toDouble / align.toDouble).toLong else -1L)
    } else if (nb >= 13 && (r.is(1, Gif89a) || r.is(1, Gif87a)))
      row(utf8("gif"), nb, r.le(7, 2), r.le(9, 2), -1L, 3L, (r.u8(11) & 7) + 1, -1L)
    else if (nb >= 30 && r.is(1, Bm)) {
      val bpp = r.le(29, 2)
      row(utf8("bmp"), nb, math.abs(signed32(r.le(19, 4))), math.abs(signed32(r.le(23, 4))), -1L,
        if (bpp >= 8) (bpp.toDouble / 8.0).toLong else 1L, bpp, -1L)
    } else undecoded(AvMetaType, Raw, nb)
  }

  /** GIF block walk: the screen descriptor and global color table, then
    * one block header or sub-block per step; each image descriptor is one
    * frame, the trailer ends the walk. */
  def gifFrameCount(payload: Array[Byte], maxBlocks: Int): InternalRow = {
    if (payload == null) return undecoded(GifFramesType, Raw, null)
    val r  = new Reader(payload)
    val nb = r.n
    if (!(nb >= 14 && (r.is(1, Gif89a) || r.is(1, Gif87a)))) return undecoded(GifFramesType, Raw, nb)
    // color table bytes announced by a packed byte (no value: no table)
    def colorTable(packed: Long): Long = if (packed >= 128) 3L << ((packed & 7) + 1) else 0L
    var pos = 14 + colorTable(r.u8(11))
    var frames = 0L; var inSubBlocks = false; var done = false; var ok = true
    var s = 0
    while (s < maxBlocks && !done && pos <= nb) {
      val b = r.u8(pos)
      if (inSubBlocks) {
        if (b == 0) { pos += 1; inSubBlocks = false } else pos += 1 + b
      } else if (b == 0x3B) done = true
      else if (b == 0x2C) { pos += 11 + colorTable(r.u8(pos + 9)); frames += 1; inSubBlocks = true }
      else if (b == 0x21) { pos += 2; inSubBlocks = true }
      else { done = true; ok = false }
      s += 1
    }
    if (done && ok) row(utf8("gif"), nb, frames) else undecoded(GifFramesType, utf8("gif"), nb)
  }

  private def tiffFormat(r: Reader): UTF8String =
    if (r.is(1, TiffLe)) utf8("tiff_le") else if (r.is(1, TiffBe)) utf8("tiff_be") else Raw

  /** entry count of the IFD at 1-based `ifd`, or −1 when it lies outside. */
  private def ifdCount(r: Reader, le: Boolean, ifd: Long): Long =
    if (ifd >= 1 && ifd + 1 <= r.n) r.u16(ifd, le) else -1L

  /** `f(tag, type, value, entry position)` over the first `max` of the
    * IFD's `count` 12-byte entries that fit the payload; a SHORT value is
    * the value field's first two bytes, a LONG all four, any other type −1. */
  private def scanIfd(r: Reader, le: Boolean, ifd: Long, count: Long, max: Int)(
      f: (Long, Long, Long, Long) => Unit): Unit = {
    var i = 0
    while (i < max && i < count && ifd + 2 + 12L * i + 11 <= r.n) {
      val at  = ifd + 2 + 12L * i
      val typ = r.u16(at + 2, le)
      f(r.u16(at, le), typ, if (typ == 3) r.u16(at + 8, le) else if (typ == 4) r.u32(at + 8, le) else -1L, at)
      i += 1
    }
  }

  /** 1-based position of a RATIONAL entry's 8-byte num/den pair (its value
    * field is a 0-based offset), or −1 when it is not one or lies outside. */
  private def rational(r: Reader, le: Boolean, typ: Long, at: Long): Long = {
    val p = r.u32(at + 8, le) + 1
    if (typ == 5 && p + 7 <= r.n) p else -1L
  }

  /** TIFF IFD0: tags 256/257/258 and the tag-282 RATIONAL pointer chase. */
  def tiffMeta(payload: Array[Byte], maxEntries: Int): InternalRow = {
    if (payload == null) return undecoded(TiffMetaType, Raw, null)
    val r   = new Reader(payload)
    val fmt = tiffFormat(r)
    if (fmt == Raw) return undecoded(TiffMetaType, Raw, r.n)
    val le  = r.is(1, TiffLe)
    val ifd = r.u32(5, le) + 1 // 1-based; 0 when the payload ends inside the offset field
    val cnt = ifdCount(r, le, ifd)
    var w = -1L; var h = -1L; var bits = -1L; var xn = -1L; var xd = -1L
    scanIfd(r, le, ifd, cnt, maxEntries) { (tag, typ, v, at) =>
      if (tag == 256) w = v
      else if (tag == 257) h = v
      else if (tag == 258) bits = v
      else if (tag == 282) {
        val p = rational(r, le, typ, at)
        if (p > 0) { xn = r.u32(p, le); xd = r.u32(p + 4, le) }
      }
    }
    row(fmt, r.n, cnt, w, h, bits, xn, xd)
  }

  /** TIFF IFD0 (width, height, the tag-34665 Exif IFD pointer), then the
    * Exif IFD: ISO (34855) and the ExposureTime RATIONAL (33434). */
  def tiffExifMeta(payload: Array[Byte], maxEntries: Int, maxExifEntries: Int): InternalRow = {
    if (payload == null) return undecoded(TiffExifType, Raw, null)
    val r   = new Reader(payload)
    val fmt = tiffFormat(r)
    if (fmt == Raw) return undecoded(TiffExifType, Raw, r.n)
    val le  = r.is(1, TiffLe)
    val ifd = r.u32(5, le) + 1 // 1-based; 0 when the payload ends inside the offset field
    val cnt = ifdCount(r, le, ifd)
    var w = -1L; var h = -1L; var exif = -1L
    scanIfd(r, le, ifd, cnt, maxEntries) { (tag, typ, v, _) =>
      if (tag == 256) w = v
      else if (tag == 257) h = v
      else if (tag == 34665 && typ == 4) exif = v + 1
    }
    val cnt2 = ifdCount(r, le, exif)
    var iso = -1L; var en = -1L; var ed = -1L
    scanIfd(r, le, exif, cnt2, maxExifEntries) { (tag, typ, v, at) =>
      if (tag == 34855) iso = v
      else if (tag == 33434) {
        val p = rational(r, le, typ, at)
        if (p > 0) { en = r.u32(p, le); ed = r.u32(p + 4, le) }
      }
    }
    row(fmt, r.n, w, h, cnt2, iso, en, ed)
  }

  /** PNG chunk walk: length-field hops from byte 9 to IEND; chunk count,
    * summed IDAT lengths, the first tEXt keyword NUL-terminated within
    * `probe` data bytes. */
  def pngChunkWalk(payload: Array[Byte], maxChunks: Int, probe: Int): InternalRow = {
    if (payload == null) return undecoded(PngChunksType, Raw, null)
    val r  = new Reader(payload)
    val nb = r.n
    if (!(nb >= 8 && r.is(1, PngSig))) return undecoded(PngChunksType, Raw, nb)
    var pos = 9L; var chunks = 0L; var idat = 0L; var kw: UTF8String = null
    var done = false; var ok = true
    var s = 0
    while (s < maxChunks && !done && pos + 7 <= nb) {
      val len = r.be(pos, 4)
      if (pos + 11 + len > nb) { done = true; ok = false }
      else {
        chunks += 1
        r.be(pos + 4, 4) match {
          case 0x49454E44L => done = true // IEND
          case t =>
            if (t == 0x49444154L) idat += len // IDAT
            else if (t == 0x74455874L && kw == null) { // tEXt
              val k = r.nul(pos + 8, math.min(len, probe.toLong), -1L)
              if (k >= 1) kw = r.hex(pos + 8, k)
            }
            pos += 12 + len
        }
      }
      s += 1
    }
    if (done && ok) row(utf8("png"), nb, chunks, idat, kw) else undecoded(PngChunksType, utf8("png"), nb)
  }

  /** ZIP: the tail-most self-consistent EOCD within `eocdScan` positions,
    * then the central-directory entries it points at, which must end
    * exactly at the EOCD. */
  def zipCentralDirectory(payload: Array[Byte], maxEntries: Int, probe: Int, eocdScan: Int): InternalRow = {
    if (payload == null) return undecoded(ZipDirType, Raw, null)
    val r  = new Reader(payload)
    val nb = r.n
    var p = -1L; var off = 0
    while (p < 0 && off < eocdScan) {
      val at = nb - 21 - off
      if (at >= 1 && r.is(at, Eocd) && at + 21 + r.le(at + 20, 2) == nb) p = at
      off += 1
    }
    if (p < 1) return undecoded(ZipDirType, Raw, nb)
    val total = r.le(p + 10, 2)
    var q = r.le(p + 16, 4) + 1
    var n = 0L; var comp = 0L; var uncomp = 0L; var name: UTF8String = null
    var done = total == 0; var ok = q + r.le(p + 12, 4) == p
    var s = 0
    while (s < maxEntries && ok && !done && q + 45 <= nb) {
      val hop = r.le(q + 28, 2) + r.le(q + 30, 2) + r.le(q + 32, 2)
      if (!r.is(q, CdSig) || q + 45 + hop > nb) { done = true; ok = false }
      else {
        if (n == 0) name = r.hex(q + 46, math.min(r.le(q + 28, 2), probe.toLong))
        n += 1; comp += r.le(q + 20, 4); uncomp += r.le(q + 24, 4)
        q += 46 + hop
        done = n == total
      }
      s += 1
    }
    if (done && ok) row(utf8("zip"), nb, total, comp, uncomp, name) else undecoded(ZipDirType, utf8("zip"), nb)
  }

  /** ustar walk: 512-byte headers hopped by their 11-digit octal sizes to
    * the zero end block; entries, directories, regular-file bytes, the
    * first name NUL-terminated within `probe` bytes. */
  def tarHeaderWalk(payload: Array[Byte], maxEntries: Int, probe: Int): InternalRow = {
    if (payload == null) return undecoded(TarHeadersType, Raw, null)
    val r  = new Reader(payload)
    val nb = r.n
    if (!(nb >= 512 && r.is(258, Ustar))) return undecoded(TarHeadersType, Raw, nb)
    // the size field's value, or −1 when a digit is not '0'..'7'
    def octal(at: Long): Long = {
      var v = 0L; var j = 0
      while (j < 11) {
        val d = r.u8(at + j) - '0'
        if (d < 0 || d > 7) return -1L
        v = v * 8 + d; j += 1
      }
      v
    }
    var q = 1L; var n = 0L; var dirs = 0L; var fileBytes = 0L; var name: UTF8String = null
    var done = false; var ok = true
    var s = 0
    while (s < maxEntries && !done && q + 511 <= nb) {
      if (r.u8(q) == 0) done = true // end-of-archive block
      else {
        val size = octal(q + 124)
        if (!r.is(q + 257, Ustar) || size < 0) { done = true; ok = false }
        else {
          if (n == 0) name = r.hex(q, r.nul(q, probe.toLong, probe.toLong))
          n += 1
          if (r.u8(q + 156) == '5') dirs += 1 else fileBytes += size
          q += 512 + ((size + 511) >> 9) * 512
        }
      }
      s += 1
    }
    if (done && ok) row(utf8("tar"), nb, n, dirs, fileBytes, name) else undecoded(TarHeadersType, utf8("tar"), nb)
  }
}
