package graft.operators

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.{col, udf}

/** Media header triage: the pass a media pipeline runs BEFORE spending
  * decode CPU. Container facts (dimensions, duration, precision) are
  * read straight out of the header bytes of a (id, payload: binary)
  * frame, with zero codec involvement and zero shuffles — at 100 TB
  * this is what routes a heterogeneous corpus to per-type decode pools
  * and prunes by size/duration before a frame is decoded.
  *
  * Three parse classes, one per container family:
  *   - PNG (m10): fixed offsets — IHDR is the first chunk;
  *   - ISO-BMFF (m11): a length-prefixed box walk (top level → `moov`
  *     → `mvhd`/`trak` → `tkhd`); box ORDER varies per file;
  *   - JPEG (m12): a marker walk from SOI to the SOFn segment.
  *
  * Every field goes through one bounds-checked reader, [[be]]: a field
  * cut off by the end of the payload (or of its enclosing box/segment)
  * reads as None, never as a shorter, plausible number. Each walk runs
  * to the end of its parent box or the payload and every step advances
  * at least one byte, so it always terminates. Each triage is one typed
  * UDF — a single projection whose cost does not grow with walk depth.
  *
  * Row contract, shared by all three: junk gives `is_x = false` with
  * NULL facts; a payload that is signed but cannot be parsed gives
  * `is_x = true` with NULL facts; a fact is never misread.
  */
object HeaderTriage {

  /** Big-endian unsigned `n`-byte field (n ≤ 8) at 0-based offset
    * `off`; None when any of its bytes lies past the end of `bytes`,
    * or when an 8-byte field does not fit a non-negative Long.
    */
  def be(bytes: Array[Byte], off: Long, n: Int): Option[Long] =
    if (bytes == null || off < 0 || off + n > bytes.length) None
    else {
      var v = 0L
      var i = 0
      while (i < n) {
        v = (v << 8) | (bytes(off.toInt + i) & 0xFF)
        i += 1
      }
      if (v >= 0) Some(v) else None
    }

  /** [[be]] restricted to the region [start, end): a field that runs
    * past its enclosing box or segment is not read.
    */
  private def within(b: Array[Byte], start: Long, end: Long, rel: Int,
      n: Int): Option[Long] =
    if (start + rel + n <= end) be(b, start + rel, n) else None

  /** a 4-char chunk/box type as the big-endian u32 [[be]] reads it */
  private def tag(t: String): Long = t.foldLeft(0L)((v, c) => (v << 8) | c)

  /** Applies a triage UDF to the payload and flattens its struct into
    * top-level columns next to the id. The UDF is marked
    * nondeterministic so that Catalyst neither pushes a caller's filter
    * on one field below it nor inlines it once per field: either would
    * run the walk again for every reference.
    */
  private def project(df: DataFrame, idCol: String, payloadCol: String,
      parse: UserDefinedFunction): DataFrame =
    df.select(col(idCol),
        parse.asNondeterministic()(col(payloadCol)).as("__triage"))
      .select(idCol, "__triage.*")

  // ---- PNG: fixed offsets ----

  final case class Png(is_png: Boolean, width: Option[Long],
      height: Option[Long], bit_depth: Option[Long],
      color_type: Option[Long])

  private val PngSignature: Array[Byte] =
    Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)

  /** PNG: 8-byte signature, then IHDR (length u32, type, data) — width
    * and height as u32 at 16/20, bit depth at 24, color type at 25.
    * A first chunk other than IHDR is signed but unparseable.
    */
  def parsePng(b: Array[Byte]): Png =
    if (b == null || !b.startsWith(PngSignature)) Png(false, None, None, None, None)
    else if (!be(b, 12, 4).contains(tag("IHDR"))) Png(true, None, None, None, None)
    else Png(true, be(b, 16, 4), be(b, 20, 4), be(b, 24, 1), be(b, 25, 1))

  /** (id, is_png, width, height, bit_depth, color_type) per row. */
  def png(df: DataFrame, idCol: String = "doc_id",
      payloadCol: String = "payload"): DataFrame =
    project(df, idCol, payloadCol, udf(parsePng _))

  // ---- ISO-BMFF: length-prefixed box walk ----

  final case class Bmff(is_bmff: Boolean, brand: Option[String],
      width: Option[Long], height: Option[Long], timescale: Option[Long],
      duration: Option[Long], duration_ms: Option[Long])

  /** (start, end) of the first box of type `want` among the siblings
    * in [off, end); None when absent. Steps advance by each box's own
    * 32-bit size, guarded `size >= 8`, so a zero or garbage size ends
    * the walk instead of looping in place (64-bit and to-EOF sizes end
    * it too: surfaced as NULL facts, never misread).
    */
  @annotation.tailrec
  private def child(b: Array[Byte], off: Long, end: Long,
      want: Long): Option[(Long, Long)] =
    if (off + 8 > end) None
    else (be(b, off, 4), be(b, off + 4, 4)) match {
      case (Some(size), Some(tp)) if size >= 8 =>
        if (tp == want) Some((off, off + size))
        else child(b, off + size, end, want)
      case _ => None
    }

  /** ISO 14496-12: `ftyp` first (brand at byte 8), then `moov` anywhere
    * in the top-level list — before or after an arbitrary `mdat`, behind
    * `free` padding — holding `mvhd` (timescale, duration) and `trak` →
    * `tkhd` (width/height, 16.16 integer part). mvhd/tkhd are FullBoxes:
    * version 1 widens creation/modification (and duration) to 64 bits,
    * shifting every later field, so each read branches on the version
    * byte and an unknown version (> 1) reads as None.
    */
  def parseBmff(b: Array[Byte]): Bmff = {
    if (b == null || b.length < 16 || !be(b, 4, 4).contains(tag("ftyp")))
      return Bmff(false, None, None, None, None, None, None)
    val moov = child(b, 0, b.length, tag("moov"))
    def in(parent: Option[(Long, Long)], t: String) =
      parent.flatMap { case (s, e) => child(b, s + 8, e, tag(t)) }
    val mvhd = in(moov, "mvhd")
    val tkhd = in(in(moov, "trak"), "tkhd")
    // a FullBox field at its version-0 or version-1 offset and width
    def field(box: Option[(Long, Long)], v0: Int, v1: Int, n0: Int,
        n1: Int): Option[Long] = box.flatMap { case (s, e) =>
      within(b, s, e, 8, 1).flatMap {
        case 0L => within(b, s, e, v0, n0)
        case 1L => within(b, s, e, v1, n1)
        case _ => None
      }
    }
    val timescale = field(mvhd, 20, 28, 4, 4)
    val duration = field(mvhd, 24, 32, 4, 8)
    val durationMs = for (d <- duration; t <- timescale if t > 0;
        ms = BigInt(d) * 1000 / t if ms.isValidLong) yield ms.toLong
    Bmff(true, Some(new String(b, 8, 4, StandardCharsets.UTF_8)),
      field(tkhd, 84, 96, 2, 2), field(tkhd, 88, 100, 2, 2),
      timescale, duration, durationMs)
  }

  /** (id, is_bmff, brand, width, height, timescale, duration,
    * duration_ms) per row; duration_ms is exact integer division.
    */
  def bmff(df: DataFrame, idCol: String = "doc_id",
      payloadCol: String = "payload"): DataFrame =
    project(df, idCol, payloadCol, udf(parseBmff _))

  // ---- JPEG: marker walk ----

  final case class Jpeg(is_jpeg: Boolean, precision: Option[Long],
      height: Option[Long], width: Option[Long], components: Option[Long])

  /** SOFn marker second bytes: C0-CF minus C4 (DHT), C8 (JPG ext),
    * CC (DAC) — the frame-header set across baseline/progressive/
    * lossless/arithmetic variants.
    */
  private val SofMarkers: Set[Long] =
    Set(0xC0L, 0xC1L, 0xC2L, 0xC3L, 0xC5L, 0xC6L, 0xC7L,
      0xC9L, 0xCAL, 0xCBL, 0xCDL, 0xCEL, 0xCFL)

  /** Walks FF-prefixed segments (FF <marker> <u16 length incl. itself>)
    * from SOI to the first SOFn and reads precision, height, width and
    * component count from it. The walk stops at SOS (entropy-coded data
    * follows, so a frame header behind it means a malformed file), at
    * any non-FF byte or a length below 2 (corrupt), or at the end of the
    * payload. ITU T.81 §B.1.1.2 allows any number of 0xFF fill bytes
    * before a marker; each one is stepped over by one byte rather than
    * misread as half of a segment length.
    */
  def parseJpeg(b: Array[Byte]): Jpeg = {
    val unparsed = Jpeg(b != null && b.length >= 4 &&
      be(b, 0, 2).contains(0xFFD8L), None, None, None, None)
    @annotation.tailrec
    def walk(off: Long): Jpeg = (be(b, off, 1), be(b, off + 1, 1)) match {
      case (Some(0xFFL), Some(0xFFL)) => walk(off + 1)
      case (Some(0xFFL), Some(mk)) if SofMarkers(mk) =>
        val end = be(b, off + 2, 2).fold(off)(off + 2 + _)
        Jpeg(true, within(b, off, end, 4, 1), within(b, off, end, 5, 2),
          within(b, off, end, 7, 2), within(b, off, end, 9, 1))
      case (Some(0xFFL), Some(mk)) if mk != 0xDAL =>
        be(b, off + 2, 2) match {
          case Some(len) if len >= 2 => walk(off + 2 + len)
          case _ => unparsed
        }
      case _ => unparsed
    }
    if (unparsed.is_jpeg) walk(2) else unparsed
  }

  /** (id, is_jpeg, precision, height, width, components) per row. */
  def jpeg(df: DataFrame, idCol: String = "doc_id",
      payloadCol: String = "payload"): DataFrame =
    project(df, idCol, payloadCol, udf(parseJpeg _))
}
