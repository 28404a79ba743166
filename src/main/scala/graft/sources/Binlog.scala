package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import com.fasterxml.jackson.core.io.SerializedString
import com.fasterxml.jackson.databind.ObjectMapper

/** MySQL binlog FILE decoder — the wire-format half of the
  * reference's replica loop (reference/src/main.rs:202-303,
  * `mysql_changes`), implemented OFFLINE against binlog files: the
  * sandbox has no MySQL server to handshake with, but the binlog
  * event framing is public protocol (binary-log event header v4,
  * TABLE_MAP_EVENT, WRITE/UPDATE/DELETE_ROWS_EVENT v2, ROTATE_EVENT)
  * and a file of those events is byte-identical to what the wire
  * delivers after the replica handshake. [[ChangeLogSource]] serves
  * `.binlog` segments through the SAME (fileIdx, row) offset
  * machinery as its JSONL logs — advancing files is the RotateEvent,
  * checkpoint resume is the SQLite log_pos analog — so a live wire
  * client would only replace the directory listing, not the decode
  * or the offsets.
  *
  * Layout implemented (from the public protocol docs):
  *
  *  - file = 4-byte magic `0xFE 'bin'` + events;
  *  - event header v4 (19 bytes LE): timestamp u32, type u8,
  *    server_id u32, event_size u32 (incl. header), next_position
  *    u32, flags u16;
  *  - TABLE_MAP_EVENT (19): table_id u48, flags u16, lenenc-prefixed
  *    schema/table names (each NUL-terminated), column count lenenc,
  *    column type bytes, lenenc-length metadata block, null bitmap;
  *  - ROWS_EVENT v2 (30/31/32): table_id u48, flags u16,
  *    extra_data_len u16 (self-inclusive), column count lenenc,
  *    present-columns bitmap(s), then row images: null bitmap over
  *    present columns (LSB-first) + values of present non-null
  *    columns; UPDATE rows come as (before, after) image pairs;
  *  - ROTATE_EVENT (4): position u64 + next file name (rest);
  *  - per-event CRC32 checksums (`binlog_checksum=CRC32`, the MySQL
  *    5.6+ DEFAULT): the FORMAT_DESCRIPTION event's trailing
  *    `checksum_alg` byte (present when its server-version is
  *    ≥ 5.6.1) switches the file; when on, every subsequent event
  *    (and the FDE itself) ends in 4 CRC-32 bytes over
  *    header+payload, which are VERIFIED (corruption fails loud,
  *    never a silently-wrong row) and excluded from payload parsing
  *    — without the exclusion the rows loop would read the CRC as
  *    another row image; unknown event types are skipped by
  *    event_size.
  *
  * Column types decoded: TINY/SHORT/INT24/LONG/LONGLONG (signed LE),
  * FLOAT/DOUBLE (LE IEEE), YEAR (0 ⇒ literal 0000), VARCHAR and CHAR
  * (length prefix by metadata max-length; CHAR's real type unpacks
  * from the two packed STRING metadata bytes), BLOB/TEXT
  * (length-prefixed; UTF-8 stays text, other bytes become uppercase
  * hex — the reference's `Value::Bytes` rule, main.rs:494-502),
  * packed-BCD NEWDECIMAL (MySQL text form, exactly `scale` fraction
  * digits), DATE (3-byte packed), DATETIME2/TIMESTAMP2/TIME2 at any
  * fsp 0-6 (big-endian packed; TIME2 decodes int+fraction as one
  * biased two's-complement fixed-point — byte-equivalent to the
  * server's per-fsp split layouts, negative times exact) — temporals
  * emitted in the §2.6 TypeMap wire forms, fractional seconds as
  * exactly fsp digits (MySQL's own text form). Honestly absent:
  * ENUM/SET (binlog stores indexes; naming them needs out-of-band
  * table defs) and the JSON binary format — both fail loud, never
  * misparse.
  * The binlog carries no column NAMES or signedness — real deployments
  * fetch schema out-of-band; here the row images name columns
  * `c0..cN−1` (the typed layer re-keys with `from_json` + a schema,
  * and the §2.6 TypeMap rules own signedness). Values land in the
  * envelope's JSON row images, so downstream is identical to the
  * JSONL path.
  */
object Binlog {

  // event type codes
  val Rotate = 4
  val FormatDescription = 15
  val TableMapEvent = 19
  val WriteRowsV2 = 30
  val UpdateRowsV2 = 31
  val DeleteRowsV2 = 32
  val GtidEvent = 33 // GTID_LOG_EVENT: transaction boundary marker

  // column type codes
  val TypeTiny = 1
  val TypeShort = 2
  val TypeLong = 3
  val TypeFloat = 4
  val TypeDouble = 5
  val TypeLongLong = 8
  val TypeInt24 = 9
  val TypeDate = 10
  val TypeYear = 13
  val TypeVarchar = 15
  val TypeTimestamp2 = 17
  val TypeDatetime2 = 18
  val TypeTime2 = 19
  val TypeNewDecimal = 246
  val TypeBlob = 252
  val TypeString = 254 // CHAR; metadata carries the REAL type

  val Magic: Array[Byte] = Array(0xfe.toByte, 'b'.toByte, 'i'.toByte, 'n'.toByte)

  /** One decoded row-level change; `pos` is the event's byte offset in
    * the file — the binlog position of the reference's
    * (pos, filename) resume pair.
    */
  final case class RowChange(op: String, db: String, table: String,
      before: Option[String], after: Option[String], tsSec: Long, pos: Long)

  /** The file's trailing rotate, if present: the name of the next
    * segment — what makes `listLogFiles`' lexicographic successor the
    * protocol-correct continuation.
    */
  final case class RotateTo(nextFile: String, pos: Long)

  final case class Decoded(changes: IndexedSeq[RowChange],
      rotate: Option[RotateTo])

  /** Where the rows events of one file start: for each event that
    * holds rows, its byte position and the ordinal of its first row,
    * kept as two primitive arrays (no decoded row is retained). The
    * driver builds it from its one decode of a segment; [[startOf]]
    * gives a slice the `(startPos, startRow)` of [[decodeSlice]].
    */
  final class RowsIndex private (pos: Array[Long], firstRow: Array[Long]) {
    /** The event that holds row `row`: its position and first-row
      * ordinal, or the file start `(4, 0)` when the file has no rows.
      * A row past the last event maps to the last event, from where a
      * decode walks on to any rows appended since.
      */
    def startOf(row: Long): (Long, Long) = {
      val k = java.util.Arrays.binarySearch(firstRow, row) match {
        case i if i >= 0 => i
        case i => -i - 2 // the last event whose first row is below `row`
      }
      if (k < 0) (4L, 0L) else (pos(k), firstRow(k))
    }
  }

  object RowsIndex {
    def of(changes: IndexedSeq[RowChange]): RowsIndex = {
      val first = changes.indices
        .filter(i => i == 0 || changes(i).pos != changes(i - 1).pos)
      new RowsIndex(first.map(changes(_).pos).toArray, first.map(_.toLong).toArray)
    }
  }

  private final case class TableMap(tableId: Long, db: String, table: String,
      types: Array[Int], meta: Array[Int])

  private final class Cursor(val b: Array[Byte], var p: Int) {
    def u8(): Int = { val v = b(p) & 0xff; p += 1; v }
    def u16(): Int = u8() | (u8() << 8)
    def u32(): Long = u16().toLong | (u16().toLong << 16)
    def u48(): Long = u32() | (u16().toLong << 32)
    def u64(): Long = u32() | (u32() << 32)
    def i8(): Int = { val v = b(p).toInt; p += 1; v }
    def i16(): Int = (u16() << 16) >> 16
    def i24(): Int = { val v = u8() | (u8() << 8) | (u8() << 16); (v << 8) >> 8 }
    def i32(): Int = u32().toInt
    def i64(): Long = u64()
    /** `n` ≤ 8 bytes as one unsigned number, little- or big-endian. */
    def le(n: Int): Long = {
      var v = 0L; var k = 0
      while (k < n) { v |= u8().toLong << (8 * k); k += 1 }
      v
    }
    def be(n: Int): Long = {
      var v = 0L; var k = 0
      while (k < n) { v = (v << 8) | u8(); k += 1 }
      v
    }
    def bytes(n: Int): Array[Byte] = {
      val v = java.util.Arrays.copyOfRange(b, p, p + n); p += n; v
    }
    def utf8(n: Int): String = { val v = new String(b, p, n, UTF_8); p += n; v }
    def lenenc(): Long = u8() match {
      case v if v < 0xfb => v.toLong
      case 0xfc => u16().toLong
      case 0xfd => u8().toLong | (u8().toLong << 8) | (u8().toLong << 16)
      case 0xfe => u64()
      case v => sys.error(s"unexpected lenenc prefix $v")
    }
  }

  private def bit(bitmap: Array[Byte], off: Int, i: Int): Boolean =
    ((bitmap(off + i / 8) >> (i % 8)) & 1) != 0

  /** Bytes of a packed-decimal digit group: full groups are 9 digits
    * in 4 bytes; leftovers use this table (public format).
    */
  private val Dig2Bytes = Array(0, 1, 1, 2, 2, 3, 3, 4, 4, 4)

  /** MySQL's column-count limit; a table map wider than this is corrupt. */
  private val MaxColumns = 4096

  /** Row-image column names `c0..c4095`, quoted once. */
  private lazy val ColNames =
    Array.tabulate(MaxColumns)(i => new SerializedString("c" + i))

  /** Append `v` (≥ 0) with zeros in front up to `width` digits, as
    * `%0<width>d` prints it.
    */
  private def pad(sb: java.lang.StringBuilder, v: Long,
      width: Int): java.lang.StringBuilder = {
    var digits = 1
    var t = v / 10
    while (t > 0) { digits += 1; t /= 10 }
    while (digits < width) { sb.append('0'); digits += 1 }
    sb.append(v)
  }

  /** Decode MySQL's packed NEWDECIMAL: big-endian 9-digit/4-byte
    * groups for int and fraction parts, leftover digits in 1-4 bytes,
    * sign in the MSB of byte 0 (1 = positive; negative values store
    * ALL bytes inverted). Emits MySQL's own text form: optional `-`,
    * integer digits without leading zeros ("0" if none), exactly
    * `scale` fraction digits.
    */
  private[sources] def decodeDecimal(raw: Array[Byte], precision: Int,
      scale: Int): String = {
    val b = raw.clone()
    val positive = (b(0) & 0x80) != 0
    b(0) = (b(0) ^ 0x80).toByte
    if (!positive) b.indices.foreach(i => b(i) = (~b(i)).toByte)
    val c = new Cursor(b, 0)
    val sb = new java.lang.StringBuilder(precision + 2)
    // leading zero groups print nothing; the first nonzero one unpadded
    def intGroup(digits: Int, nBytes: Int): Unit = {
      val v = c.be(nBytes)
      if (sb.length > 0) pad(sb, v, digits) else if (v != 0) sb.append(v)
    }
    val intDigits = precision - scale
    if (intDigits % 9 > 0) intGroup(intDigits % 9, Dig2Bytes(intDigits % 9))
    (0 until intDigits / 9).foreach(_ => intGroup(9, 4))
    var nonZero = sb.length > 0
    if (!nonZero) sb.append('0')
    if (scale > 0) {
      sb.append('.')
      def fracGroup(digits: Int, nBytes: Int): Unit = {
        val v = c.be(nBytes)
        nonZero ||= v != 0
        pad(sb, v, digits)
      }
      (0 until scale / 9).foreach(_ => fracGroup(9, 4))
      if (scale % 9 > 0) fracGroup(scale % 9, Dig2Bytes(scale % 9))
    }
    if (!positive && nonZero) sb.insert(0, '-')
    sb.toString
  }

  private val Hex = java.util.HexFormat.of().withUpperCase()

  private def parseTableMap(c: Cursor): TableMap = {
    val tableId = c.u48()
    c.u16() // flags
    val dbLen = c.u8()
    val db = c.utf8(dbLen); c.u8() // NUL
    val tblLen = c.u8()
    val table = c.utf8(tblLen); c.u8() // NUL
    val n = c.lenenc().toInt
    require(n >= 0 && n <= MaxColumns, s"table map of $db.$table has $n columns")
    val types = Array.tabulate(n)(_ => c.u8())
    c.lenenc() // metadata block length (we re-derive per type)
    val meta = types.map {
      case TypeVarchar => c.u16() // max length
      case TypeDatetime2 | TypeTimestamp2 | TypeTime2 =>
        val fsp = c.u8() // fractional-second precision, 0-6
        require(fsp >= 0 && fsp <= 6, s"temporal fsp $fsp out of range")
        fsp
      case TypeFloat | TypeDouble => c.u8() // pack length (4 / 8)
      case TypeNewDecimal =>
        val p = c.u8(); val s = c.u8() // precision, scale
        (p << 8) | s
      case TypeBlob => c.u8() // number of length-prefix bytes (1-4)
      case TypeString =>
        // two packed bytes: the REAL type hides in the high bits of
        // byte 0 when its 0x30 bits are cleared (public layout quirk)
        val m0 = c.u8(); val m1 = c.u8()
        (m0 << 8) | m1
      case _ => 0 // integer types, DATE and YEAR carry no metadata
    }
    TableMap(tableId, db, table, types, meta)
  }

  /** Renders row images (columns c0.., null bits LSB-first over the
    * present columns) as JSON object text through one streaming
    * generator. The text is what `writeValueAsString` gives for an
    * `ObjectNode` of the same values: the same generator class, hence
    * the same escaping, and the same `writeNumber` overloads the
    * node types call (int for TINY..LONG and YEAR, long for LONGLONG,
    * float, double). Temporal and decimal text is built by hand.
    */
  private final class Images {
    private val out = new java.io.CharArrayWriter(256)
    private val g = Json.getFactory.createGenerator(out)
    g.setRootValueSeparator(null) // one object per image, nothing between
    private val sb = new java.lang.StringBuilder(32)
    private val utf8 = UTF_8.newDecoder()

    /** The reference's `Value::Bytes` rule (main.rs:494-502): UTF-8
      * text stays text, anything else becomes uppercase hex.
      */
    private def bytesValue(c: Cursor, len: Int): String = {
      val v =
        try utf8.decode(java.nio.ByteBuffer.wrap(c.b, c.p, len)).toString
        catch { case _: java.nio.charset.CharacterCodingException =>
          Hex.formatHex(c.b, c.p, c.p + len)
        }
      c.p += len
      v
    }

    private def date(year: Long, month: Long, day: Long): Unit = {
      pad(sb, year, 4).append('-'); pad(sb, month, 2).append('-')
      pad(sb, day, 2)
    }

    private def clock(hour: Long, minute: Long, second: Long,
        hourDigits: Int): Unit = {
      pad(sb, hour, hourDigits).append(':'); pad(sb, minute, 2).append(':')
      pad(sb, second, 2)
    }

    /** DATETIME2/TIMESTAMP2 fraction: ⌈fsp/2⌉ BIG-endian bytes in
      * 10^-(2·⌈fsp/2⌉)-second units, printed as exactly fsp digits
      * (MySQL semantics).
      */
    private def fraction(c: Cursor, fsp: Int): Unit =
      if (fsp > 0) {
        val stored = c.be((fsp + 1) / 2)
        pad(sb.append('.'), stored / (if (fsp % 2 == 1) 10 else 1), fsp)
      }

    /** Write, as one JSON string, the text `build` appends to `sb`. */
    private def writeText(build: => Unit): Unit = {
      sb.setLength(0)
      build
      g.writeString(sb.toString)
    }

    def image(c: Cursor, tm: TableMap, present: Array[Byte],
        nPresent: Int): String = {
      val nulls = c.p
      c.p += (nPresent + 7) / 8
      g.writeStartObject()
      var imgIdx = 0
      var i = 0
      while (i < tm.types.length) {
        if (bit(present, 0, i)) {
          g.writeFieldName(ColNames(i))
          if (bit(c.b, nulls, imgIdx)) g.writeNull()
          else tm.types(i) match {
            case TypeTiny => g.writeNumber(c.i8())
            case TypeShort => g.writeNumber(c.i16())
            case TypeInt24 => g.writeNumber(c.i24())
            case TypeLong => g.writeNumber(c.i32())
            case TypeLongLong => g.writeNumber(c.i64())
            case TypeVarchar =>
              g.writeString(c.utf8(if (tm.meta(i) < 256) c.u8() else c.u16()))
            case TypeDate =>
              // 3 bytes LE packed: day(5) | month(4)<<5 | year<<9 —
              // emitted in the §2.6 TypeMap wire form
              val v = c.le(3)
              writeText(date(v >> 9, (v >> 5) & 0xf, v & 0x1f))
            case TypeDatetime2 =>
              // 5 bytes BIG-endian: sign(1) ym=year*13+month(17) day(5)
              // hour(5) minute(6) second(6); non-negative ⇒ sign bit
              // set (cleared here: dates ≥ epoch), then the fraction
              val v = c.be(5) & ((1L << 39) - 1)
              val ym = (v >> 22) & 0x1ffff
              writeText {
                date(ym / 13, ym % 13, (v >> 17) & 0x1f); sb.append(' ')
                clock((v >> 12) & 0x1f, (v >> 6) & 0x3f, v & 0x3f, 2)
                fraction(c, tm.meta(i))
              }
            case TypeFloat =>
              g.writeNumber(java.lang.Float.intBitsToFloat(c.i32()))
            case TypeDouble =>
              g.writeNumber(java.lang.Double.longBitsToDouble(c.i64()))
            case TypeYear =>
              // stored year-1900; 0 means the literal 0000
              val v = c.u8()
              g.writeNumber(if (v == 0) 0 else 1900 + v)
            case TypeTimestamp2 =>
              // 4 bytes BIG-endian epoch seconds + the DATETIME2-style
              // fraction; emitted as the UTC datetime string (the
              // session timezone is pinned UTC engine-wide)
              val dt = java.time.LocalDateTime.ofEpochSecond(c.be(4), 0,
                java.time.ZoneOffset.UTC)
              writeText {
                date(dt.getYear, dt.getMonthValue, dt.getDayOfMonth)
                sb.append(' ')
                clock(dt.getHour, dt.getMinute, dt.getSecond, 2)
                fraction(c, tm.meta(i))
              }
            case TypeTime2 =>
              // 3 bytes BIG-endian packed hms biased by 0x800000; the
              // fraction extends the SAME fixed-point number, so a
              // negative time complements int and fraction together —
              // take |v| of the combined value, then split
              val fsp = tm.meta(i)
              val fracBytes = (fsp + 1) / 2
              val signed = c.be(3 + fracBytes) - (0x800000L << (8 * fracBytes))
              val av = math.abs(signed)
              val hms = av >> (8 * fracBytes)
              val frac = av & ((1L << (8 * fracBytes)) - 1)
              val micros = (frac / (if (fsp % 2 == 1) 10 else 1)) *
                math.pow(10, 6 - fsp).toLong
              // the reference's text form (main.rs:468-491): hours fold
              // days in, 3-digit minimum; micros print 6 digits or none
              writeText {
                if (signed < 0) sb.append('-')
                clock((hms >> 12) & 0x3ff, (hms >> 6) & 0x3f, hms & 0x3f, 3)
                if (micros != 0) pad(sb.append('.'), micros, 6)
              }
            case TypeNewDecimal =>
              val (precision, scale) = (tm.meta(i) >> 8, tm.meta(i) & 0xff)
              val intB = 4 * ((precision - scale) / 9) +
                Dig2Bytes((precision - scale) % 9)
              val fracB = 4 * (scale / 9) + Dig2Bytes(scale % 9)
              g.writeString(decodeDecimal(c.bytes(intB + fracB),
                precision, scale))
            case TypeBlob =>
              g.writeString(bytesValue(c, c.le(tm.meta(i)).toInt))
            case TypeString =>
              // unpack the real type / max length from the two packed
              // metadata bytes; CHAR is the supported real type here
              val (m0, m1) = (tm.meta(i) >> 8, tm.meta(i) & 0xff)
              val (realType, maxLen) =
                if ((m0 & 0x30) != 0x30) (m0 | 0x30, m1 | (((m0 & 0x30) ^ 0x30) << 4))
                else (m0, m1)
              require(realType == TypeString,
                s"unsupported STRING-family real type $realType in ${tm.table}")
              g.writeString(bytesValue(c, if (maxLen < 256) c.u8() else c.u16()))
            case t => sys.error(s"unsupported column type $t in ${tm.table}")
          }
          imgIdx += 1
        }
        i += 1
      }
      g.writeEndObject()
      g.flush()
      val s = out.toString
      out.reset()
      s
    }
  }

  private val Json = new ObjectMapper()

  /** Read the FDE's trailing checksum-algorithm byte: present only
    * when the event's server-version field (5.6.1+) knows checksums.
    * Returns true for CRC32 (alg 1); 0xff/0 mean off.
    */
  private def fdeChecksumOn(bytes: Array[Byte], p: Int, size: Int): Boolean = {
    // payload: u16 version, 50-byte server-version (NUL-padded), ...
    if (size < 19 + 2 + 50 + 4 + 1 + 1) return false
    val ver = new String(bytes, p + 19 + 2, 50, "ISO-8859-1")
      .takeWhile(c => c != 0)
    val nums = ver.takeWhile(c => c.isDigit || c == '.')
      .split('.').filter(_.nonEmpty).map(_.toInt).padTo(3, 0)
    val supportsChecksum = nums(0) > 5 ||
      (nums(0) == 5 && (nums(1) > 6 || (nums(1) == 6 && nums(2) >= 1)))
    supportsChecksum && (bytes(p + size - 5) & 0xff) == 1
  }

  /** Decode a whole binlog file: the rows `[0, ∞)` from the file start. */
  def decodeFile(bytes: Array[Byte]): Decoded =
    decodeSlice(bytes, 4L, 0L, 0L, Long.MaxValue)

  /** Decode the rows `[from, until)` of a binlog file, rows numbered
    * from 0 at the file's first row. `(startPos, startRow)` names where
    * decoding starts: the byte position of an event at or before row
    * `from` and the ordinal of its first row ([[RowsIndex.startOf]]),
    * or `(4, 0)`, the first event.
    *
    * Every event before `startPos` is still length-checked and
    * CRC-verified, and its FORMAT_DESCRIPTION and TABLE_MAP bodies are
    * parsed: the checksum mode and the table maps are file state (each
    * rows event references the preceding TABLE_MAP by table_id — the
    * protocol contract; MySQL re-emits maps after rotates, so files
    * stay self-contained). Rows bodies there are skipped by size. From
    * `startPos` rows decode, those before `from` are dropped, and
    * decoding stops once the ordinal reaches `until`: no byte past the
    * event holding row `until - 1` is read. A finite `until` the file
    * does not reach fails loud.
    */
  def decodeSlice(bytes: Array[Byte], startPos: Long, startRow: Long,
      from: Long, until: Long): Decoded = {
    require(bytes.length >= 4 && bytes.take(4).sameElements(Magic),
      "not a binlog file (bad magic)")
    require(startPos >= 4 && startRow <= from,
      s"slice start ($startPos, row $startRow) is past row $from")
    val images = new Images
    val tableMaps = scala.collection.mutable.HashMap.empty[Long, TableMap]
    val out = IndexedSeq.newBuilder[RowChange]
    var rotate: Option[RotateTo] = None
    var checksummed = false
    val crc = new java.util.zip.CRC32()
    var row = startRow
    var p = 4
    while (p + 19 <= bytes.length && row < until) {
      val h = new Cursor(bytes, p)
      val ts = h.u32()
      val typ = h.u8()
      h.u32() // server_id
      val size = h.u32().toInt
      h.u32(); h.u16() // next_position, flags
      require(size >= 19 && p + size <= bytes.length,
        s"truncated event at $p (size $size)")
      require(p >= startPos || p + size <= startPos,
        s"slice start $startPos falls inside the event at $p")
      // the FDE announces the file's checksum mode (it applies to the
      // FDE itself too); a dump-stream preamble FDE re-announces it
      if (typ == FormatDescription)
        checksummed = fdeChecksumOn(bytes, p, size)
      if (checksummed) {
        require(size >= 19 + 4, s"checksummed event at $p too small")
        crc.reset()
        crc.update(bytes, p, size - 4)
        val stored = new Cursor(bytes, p + size - 4).u32()
        require(crc.getValue == stored,
          f"CRC32 mismatch at offset $p (event type $typ): " +
            f"stored 0x$stored%08x, computed 0x${crc.getValue}%08x")
      }
      val c = new Cursor(bytes, p + 19)
      // payload ends BEFORE the checksum — the rows loop must never
      // read the CRC bytes as a row image
      val end = p + size - (if (checksummed) 4 else 0)
      typ match {
        case TableMapEvent =>
          val tm = parseTableMap(c)
          tableMaps.update(tm.tableId, tm)
        case WriteRowsV2 | UpdateRowsV2 | DeleteRowsV2 if p >= startPos =>
          val tableId = c.u48()
          c.u16() // flags
          val extraLen = c.u16() // self-inclusive
          if (extraLen > 2) c.p += extraLen - 2
          val tm = tableMaps.getOrElse(tableId,
            sys.error(s"rows event for unmapped table_id $tableId"))
          val n = c.lenenc().toInt
          require(n == tm.types.length, s"rows event at $p has $n columns, " +
            s"its table map ${tm.types.length}")
          val present1 = c.bytes((n + 7) / 8)
          val present2 =
            if (typ == UpdateRowsV2) c.bytes((n + 7) / 8) else present1
          val nP1 = (0 until n).count(bit(present1, 0, _))
          val nP2 = (0 until n).count(bit(present2, 0, _))
          while (c.p < end && row < until) {
            val change = typ match {
              case WriteRowsV2 =>
                val after = images.image(c, tm, present1, nP1)
                RowChange(graft.cdc.ChangeOp.Insert, tm.db, tm.table,
                  None, Some(after), ts, p.toLong)
              case DeleteRowsV2 =>
                val before = images.image(c, tm, present1, nP1)
                RowChange(graft.cdc.ChangeOp.Delete, tm.db, tm.table,
                  Some(before), None, ts, p.toLong)
              case UpdateRowsV2 =>
                val before = images.image(c, tm, present1, nP1)
                val after = images.image(c, tm, present2, nP2)
                RowChange(graft.cdc.ChangeOp.Update, tm.db, tm.table,
                  Some(before), Some(after), ts, p.toLong)
            }
            if (row >= from) out += change
            row += 1
          }
          require(c.p <= end, s"row images overrun the rows event at $p")
        case Rotate =>
          val pos = c.u64()
          val next = c.utf8(end - c.p)
          rotate = Some(RotateTo(next, pos))
        case _ =>
          // rows before the slice start, FORMAT_DESCRIPTION, XID, STOP,
          // ... — skipped by size
      }
      p += size
    }
    require(until == Long.MaxValue || row >= until,
      s"binlog ends at row $row, before row $until")
    Decoded(out.result(), rotate)
  }
}
