package org.apache.spark.sql.graftext

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{AbstractDataType, BinaryType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Container-header probe over an opaque media payload: detect the format
  * from MAGIC BYTES and read the header fields a curation pipeline needs
  * BEFORE any decode — `mm_header_parse(payload)` →
  * `struct<format, width, height, sample_rate, body_bytes>`.
  *
  * Exactly the byte-grain step the reference pipeline never has (it is
  * text-only) but a multimodal training-data pipeline runs on every
  * asset: probe the container, read dimensions / sample rate from the
  * header bytes, and route or reject — without shipping payload bytes
  * anywhere (pure map-side scan, null fields where a format lacks them).
  *
  * Formats recognized (the three the asset fixture synthesizes, each with
  * its REAL wire framing):
  *  - PNG: 8-byte signature `89 50 4E 47 0D 0A 1A 0A`, then the IHDR
  *    chunk (len + "IHDR" + 13 data bytes) — width/height are the two
  *    BIG-endian u32s at bytes 16/20 (PNG spec §5.2/§11.2.2);
  *    body_bytes = everything after the 33-byte signature+IHDR prefix.
  *  - WAV: "RIFF" …… "WAVE" "fmt " — sample_rate is the LITTLE-endian
  *    u32 at byte 24, body_bytes the data-chunk size field (LE u32 at
  *    byte 40) — read from the FIELD, as a parser must, not inferred
  *    from the payload length.
  *  - MP4: an `ftyp` box leads the file; the full box tree is then
  *    walked by [[Mp4Boxes]] (moov/trak/mdia/minf/stbl) — body_bytes =
  *    the actual `mdat` payload bytes, n_samples/table_bytes from the
  *    `stsz` sample-size table, media_ms from `mdhd` duration/timescale.
  *    A leading-ftyp payload whose box tree is malformed keeps
  *    format "mp4" with ALL fields null (the tree-level quarantine).
  *    Dimensions live in `tkhd`/`stsd`, beyond this probe → null.
  *  - JPEG: SOI then a marker-segment WALK (APPn/COM segments are
  *    skipped via their own BE16 lengths — encoders insert them freely)
  *    to the first SOF0-SOF3 frame header, whose payload carries height
  *    then width as BE u16s; body_bytes = everything after that SOF
  *    segment. Hitting SOS/EOI first = dims missing = quarantine.
  * Anything else (truncated or foreign magic) → all-null struct: the
  * quarantine row, never an exception — corrupt bytes at 100 TB are data,
  * not errors.
  *
  * Codegen'd via the family's shared-static pattern (the struct is built
  * in one compiled method, [[MediaHeaderParse.parseTotal]]); never null
  * at the struct level so downstream `.getField` is total.
  */
case class MediaHeaderParse(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  import org.apache.spark.sql.catalyst.expressions.codegen.Block._
  import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = MediaHeaderParse.outType
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any =
    MediaHeaderParse.parseTotal(child.eval(input).asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = c.code + code"""
      InternalRow ${ev.value} = ${KernelCall(classOf[MediaHeaderParse], "parseTotal",
        s"${c.isNull} ? null : ${c.value}")};
      """, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): MediaHeaderParse =
    copy(child = newChild)
}

object MediaHeaderParse {
  private[graftext] val outType: StructType = StructType(Seq(
    StructField("format", StringType, nullable = true),
    StructField("width", LongType, nullable = true),
    StructField("height", LongType, nullable = true),
    StructField("sample_rate", LongType, nullable = true),
    StructField("body_bytes", LongType, nullable = true),
    // MP4 sample-table fields (null for every other format): stsz entry
    // count, stsz byte sum, and the mdhd duration in milliseconds
    StructField("n_samples", LongType, nullable = true),
    StructField("table_bytes", LongType, nullable = true),
    StructField("media_ms", LongType, nullable = true)))

  private val Png = UTF8String.fromString("png")
  private val Wav = UTF8String.fromString("wav")
  private val Mp4 = UTF8String.fromString("mp4")
  private val Jpeg = UTF8String.fromString("jpeg")

  /** The quarantine row: unknown magic, truncated header, or null input. */
  private val UnknownRow: InternalRow =
    InternalRow(null, null, null, null, null, null, null, null)

  /** Big-endian u32 at byte offset `o` (caller checked bounds). The
    * three byte helpers are the ONE wire-parsing vocabulary — the decode
    * stage (graft.operators.MultimodalOps) reads through them too, so an
    * endianness or bounds fix lands in probe and decoder at once. */
  def be32(b: Array[Byte], o: Int): Long =
    ((b(o) & 0xFFL) << 24) | ((b(o + 1) & 0xFFL) << 16) |
      ((b(o + 2) & 0xFFL) << 8) | (b(o + 3) & 0xFFL)

  /** Little-endian u32 at byte offset `o`. */
  def le32(b: Array[Byte], o: Int): Long =
    (b(o) & 0xFFL) | ((b(o + 1) & 0xFFL) << 8) |
      ((b(o + 2) & 0xFFL) << 16) | ((b(o + 3) & 0xFFL) << 24)

  /** ASCII tag test at byte offset `o`, BOUNDS-CHECKED (a probe feeding
    * on arbitrary payloads must treat truncation as mismatch, never as
    * an exception). */
  def tagAt(b: Array[Byte], o: Int, t: String): Boolean = {
    if (o < 0 || o + t.length > b.length) return false
    var i = 0
    while (i < t.length) {
      if (b(o + i) != t.charAt(i).toByte) return false
      i += 1
    }
    true
  }

  /** Total (null-accepting) entry shared by eval and codegen. */
  def parseTotal(b: Array[Byte]): InternalRow =
    if (b == null) UnknownRow else parse(b)

  def parse(b: Array[Byte]): InternalRow = {
    val n = b.length
    // PNG: signature + a leading IHDR chunk with the two BE dimensions
    if (n >= 33 &&
        (b(0) & 0xFF) == 0x89 && tagAt(b, 1, "PNG") &&
        b(4) == 0x0D && b(5) == 0x0A && b(6) == 0x1A && b(7) == 0x0A &&
        tagAt(b, 12, "IHDR")) {
      InternalRow(Png, be32(b, 16), be32(b, 20), null, (n - 33).toLong,
        null, null, null)
    // WAV: RIFF/WAVE/fmt — rate and data size read from their fields
    } else if (n >= 44 && tagAt(b, 0, "RIFF") && tagAt(b, 8, "WAVE") &&
        b(12) == 'f'.toByte && b(13) == 'm'.toByte &&
        b(14) == 't'.toByte && b(15) == ' '.toByte) {
      InternalRow(Wav, null, null, le32(b, 24), le32(b, 40), null, null, null)
    // MP4 family: a leading ftyp box whose BE size is VALID (8..n). The
    // size check lives in the branch CONDITION, not the body, so the
    // precedence definition is one boolean per format exactly like the
    // oracle's CASE: an adversarial FFD8-prefixed payload that also has
    // 'ftyp' at byte 4 with a junk box size falls THROUGH to the JPEG
    // walk on both engines instead of being quarantined only here.
    // A valid leading ftyp then hands the FULL box tree to the
    // [[Mp4Boxes]] walker: the sample tables are what a video I/O plan
    // addresses, so the probe surfaces them; a malformed tree keeps the
    // format (the magic was genuine) with null fields — the tree-level
    // quarantine, distinguishable from a healthy zero-sample file.
    } else if (n >= 16 && tagAt(b, 4, "ftyp") &&
        { val s = be32(b, 0); s >= 8 && s <= n }) {
      Mp4Boxes.parse(b) match {
        case Some(t) =>
          // media_ms guards BOTH factors: a hostile mdhd v1 u64 duration
          // read via be64 can be negative (top bit set) or large enough
          // that ×1000 wraps Long — either emits the null quarantine,
          // never a garbage/negative duration
          val mediaMs =
            if (t.timescale > 0 && t.durationTs >= 0 &&
              t.durationTs <= Long.MaxValue / 1000L)
              (t.durationTs * 1000L / t.timescale): java.lang.Long
            else null
          InternalRow(Mp4, null, null, null, t.mdatBytes,
            t.nSamples.toLong, t.tableBytes, mediaMs)
        case None => InternalRow(Mp4, null, null, null, null, null, null, null)
      }
    // JPEG: SOI, then WALK the marker segments (each FF-marker carries a
    // BE16 length) until a SOF frame header yields the dimensions — a
    // fixed-offset read would break on any extra APPn/COM segment, which
    // real encoders insert freely
    } else if (n >= 4 && (b(0) & 0xFF) == 0xFF && (b(1) & 0xFF) == 0xD8) {
      jpegSof(b, n)
    } else UnknownRow
  }

  /** Walk JPEG segments from just past SOI to the first SOF0-SOF3 frame
    * header; height/width are the BE16s at payload offsets 1/3 (after
    * the precision byte). Stops (quarantines) at SOS/EOI, a non-marker
    * byte, or a truncated segment — dims must appear BEFORE entropy
    * data, so hitting the scan means a malformed header. */
  private def jpegSof(b: Array[Byte], n: Int): InternalRow = {
    var i = 2
    while (i + 4 <= n && (b(i) & 0xFF) == 0xFF) {
      val marker = b(i + 1) & 0xFF
      if (marker == 0xFF) { // 0xFF fill byte before a marker (legal padding)
        i += 1
      } else if (marker == 0x01 || (marker >= 0xD0 && marker <= 0xD7)) {
        i += 2 // TEM/RSTn: standalone markers, no length field
      } else {
        val segLen = ((b(i + 2) & 0xFF) << 8) | (b(i + 3) & 0xFF)
        if (segLen < 2 || i + 2 + segLen > n) return UnknownRow
        if (marker >= 0xC0 && marker <= 0xC3) { // SOF0-SOF3 (baseline..lossless)
          if (segLen < 7) return UnknownRow
          val height = (((b(i + 5) & 0xFF) << 8) | (b(i + 6) & 0xFF)).toLong
          val width = (((b(i + 7) & 0xFF) << 8) | (b(i + 8) & 0xFF)).toLong
          // body = everything after the SOF segment: with the canonical
          // synthesized SOI+APP0+DQT+SOF0 prefix that is payload minus
          // the 102-byte header (JpegHeaderBytes)
          return InternalRow(Jpeg, width, height, null,
            (n - (i + 2 + segLen)).toLong, null, null, null)
        }
        if (marker == 0xDA || marker == 0xD9) return UnknownRow // SOS/EOI first
        i += 2 + segLen
      }
    }
    UnknownRow
  }
}
