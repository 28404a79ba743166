package graft.perfbench

import java.io.{ByteArrayOutputStream, File}
import java.nio.file.Files

import scala.util.Random

/** Input generators. Everything is a pure function of the seed; the
  * program sees only the files written here.
  */
object Gen {

  val BaseTs = 1700000000L

  // -------------------------------------------------- binlog_drain

  /** One table of the drain log. Every table has the same columns:
    * INT id, BIGINT qty, VARCHAR(64) name, DECIMAL(10,2) amount,
    * DATETIME2(0) at — decoded by the program as c0..c4.
    */
  final case class Tbl(db: String, name: String, id: Long)

  val DrainTables = Seq(Tbl("shop", "orders", 101), Tbl("shop", "items", 102),
    Tbl("crm", "accounts", 103), Tbl("audit", "log", 104))
  /** Drops the `audit` db. */
  val DrainRegex = "^(?!audit\\.).*"

  final case class DRow(id: Int, qty: Long, name: String, cents: Long,
      at: java.time.LocalDateTime) {
    def image: Seq[(String, String)] = Seq("c0" -> id.toString,
      "c1" -> qty.toString, "c2" -> name, "c3" -> decimalText(cents),
      "c4" -> (f"${at.getYear}%04d-${at.getMonthValue}%02d-${at.getDayOfMonth}%02d " +
        f"${at.getHour}%02d:${at.getMinute}%02d:${at.getSecond}%02d"))
  }

  /** MySQL's text form of a DECIMAL(10,2) held as cents. */
  def decimalText(cents: Long): String = {
    val a = math.abs(cents)
    (if (cents < 0) "-" else "") + (a / 100) + "." + f"${a % 100}%02d"
  }

  /** One row change as the drain generator tallies it. */
  final case class DChange(op: String, tbl: Tbl, before: Option[DRow],
      after: Option[DRow])

  private final class W {
    val buf = new ByteArrayOutputStream()
    def u8(v: Int): Unit = buf.write(v & 0xff)
    def u16(v: Int): Unit = { u8(v); u8(v >> 8) }
    def u32(v: Long): Unit = { u16((v & 0xffff).toInt); u16(((v >> 16) & 0xffff).toInt) }
    def u64(v: Long): Unit = { u32(v & 0xffffffffL); u32(v >>> 32) }
    def be(v: Long, n: Int): Unit = (n - 1 to 0 by -1).foreach(j => u8((v >> (8 * j)).toInt))
    def bytes(b: Array[Byte]): Unit = buf.write(b)
    def out: Array[Byte] = buf.toByteArray
  }

  private val ColTypes = Seq(3, 8, 15, 246, 18) // LONG LONGLONG VARCHAR NEWDECIMAL DATETIME2

  private def tableMap(t: Tbl): Array[Byte] = {
    val w = new W
    w.u32(t.id); w.u16(0); w.u16(1)
    Seq(t.db, t.name).foreach { s =>
      val b = s.getBytes("UTF-8"); w.u8(b.length); w.bytes(b); w.u8(0)
    }
    w.u8(ColTypes.size); ColTypes.foreach(w.u8)
    w.u8(5) // metadata: VARCHAR max length (2), DECIMAL p,s (2), DATETIME2 fsp (1)
    w.u16(64); w.u8(10); w.u8(2); w.u8(0)
    w.u8(0) // null bitmap
    w.out
  }

  private def image(w: W, r: DRow): Unit = {
    w.u8(0) // no nulls
    w.u32(r.id.toLong & 0xffffffffL)
    w.u64(r.qty)
    val nb = r.name.getBytes("UTF-8"); w.u8(nb.length); w.bytes(nb)
    // DECIMAL(10,2): 8 integer digits in 4 bytes, 2 fraction digits in
    // 1 byte, big-endian; sign bit set when positive, all bytes
    // inverted when negative
    val a = math.abs(r.cents)
    val d = new W; d.be(a / 100, 4); d.u8((a % 100).toInt)
    val dec = d.out
    dec(0) = (dec(0) ^ 0x80).toByte
    if (r.cents < 0) dec.indices.foreach(i => dec(i) = (~dec(i)).toByte)
    w.bytes(dec)
    val at = r.at
    w.be((1L << 39) | ((at.getYear * 13L + at.getMonthValue) << 22) |
      (at.getDayOfMonth.toLong << 17) | (at.getHour.toLong << 12) |
      (at.getMinute.toLong << 6) | at.getSecond.toLong, 5)
  }

  private def rowsEvent(t: Tbl, update: Boolean, rows: Seq[DChange]): Array[Byte] = {
    val w = new W
    w.u32(t.id); w.u16(0); w.u16(0); w.u16(2)
    w.u8(ColTypes.size)
    w.u8(0x1f); if (update) w.u8(0x1f)
    rows.foreach { c =>
      c.before.foreach(image(w, _))
      c.after.foreach(image(w, _))
    }
    w.out
  }

  private def fde(): Array[Byte] = {
    val w = new W
    w.u16(4)
    w.bytes("8.0.36-perfbench".getBytes("UTF-8").padTo(50, 0.toByte))
    w.u32(0); w.u8(19)
    w.bytes(Array.fill[Byte](40)(0))
    w.u8(1) // checksum_alg = CRC32
    w.out
  }

  /** Frame events (ts, type, payload) into one CRC32-checked segment. */
  private def segment(events: Seq[(Long, Int, Array[Byte])]): Array[Byte] = {
    val w = new W
    w.bytes(Array(0xfe.toByte, 'b'.toByte, 'i'.toByte, 'n'.toByte))
    var pos = 4L
    events.foreach { case (ts, typ, payload) =>
      val size = 19 + payload.length + 4
      val ev = new W
      ev.u32(ts); ev.u8(typ); ev.u32(1); ev.u32(size); ev.u32(pos + size); ev.u16(0)
      ev.bytes(payload)
      val body = ev.out
      val crc = new java.util.zip.CRC32(); crc.update(body)
      w.bytes(body); w.u32(crc.getValue)
      pos += size
    }
    w.out
  }

  private def randName(r: Random): String =
    Iterator.fill(3 + r.nextInt(18))("abcdefghijklmnopqrstuvwxyz0123456789 "(r.nextInt(37)))
      .mkString.trim match { case "" => "x"; case s => s }

  private def randRow(r: Random, id: Int): DRow = DRow(id,
    r.nextLong() >> r.nextInt(60), randName(r),
    r.nextLong() % 10000000000L,
    java.time.LocalDateTime.of(2000 + r.nextInt(31), 1 + r.nextInt(12),
      1 + r.nextInt(28), r.nextInt(24), r.nextInt(60), r.nextInt(60)))

  /** Writes `nSegments` `.binlog` files of `rowsPerSegment` row changes
    * each (inserts, updates and deletes over [[DrainTables]], 1-8 rows
    * per rows event, every segment but the last ending in a rotate) and
    * returns every change in log order.
    */
  def binlogDrain(dir: File, seed: Long, nSegments: Int,
      rowsPerSegment: Int): IndexedSeq[DChange] = {
    val r = new Random(seed)
    val live = DrainTables.map(t => t -> scala.collection.mutable.ArrayBuffer.empty[DRow]).toMap
    var nextId = 1
    val all = IndexedSeq.newBuilder[DChange]
    dir.mkdirs()
    for (s <- 1 to nSegments) {
      val evs = Seq.newBuilder[(Long, Int, Array[Byte])]
      evs += ((BaseTs, 15, fde()))
      var rows = 0
      var ts = BaseTs + s * 100000L
      while (rows < rowsPerSegment) {
        val t = DrainTables(r.nextInt(DrainTables.size))
        val pool = live(t)
        val n = math.min(1 + r.nextInt(8), rowsPerSegment - rows)
        val kind = r.nextInt(20)
        val op = if (pool.size < 16 || kind < 9) "Insert" else if (kind < 16) "Update" else "Delete"
        val changes = (0 until n).map { _ =>
          op match {
            case "Insert" =>
              val row = randRow(r, nextId); nextId += 1; pool += row
              DChange(op, t, None, Some(row))
            case "Update" =>
              val i = r.nextInt(pool.size)
              val row = randRow(r, pool(i).id); val old = pool(i); pool(i) = row
              DChange(op, t, Some(old), Some(row))
            case _ =>
              val i = r.nextInt(pool.size)
              val old = pool(i); pool(i) = pool.last; pool.remove(pool.size - 1)
              DChange(op, t, Some(old), None)
          }
        }
        val typ = op match { case "Insert" => 30; case "Update" => 31; case _ => 32 }
        evs += ((ts, 19, tableMap(t)))
        evs += ((ts, typ, rowsEvent(t, op == "Update", changes)))
        all ++= changes
        rows += n; ts += 1
      }
      if (s < nSegments) {
        val next = f"binlog.${s + 1}%06d.binlog"
        val w = new W; w.u64(4L); w.bytes(next.getBytes("UTF-8"))
        evs += ((ts, 4, w.out))
      }
      Files.write(new File(dir, f"binlog.$s%06d.binlog").toPath, segment(evs.result()))
    }
    all.result()
  }

  // ------------------------------------------------- lww_backfill

  /** A keyset snapshot interleaved with live changes on a skewed key
    * set. Backfill rows carry the snapshot's placeholder ts; live rows
    * carry ts at or after it, so ties between the two are common, and
    * some live changes to a key precede that key's backfill row.
    * Returns the records in log order, seq as the source numbers them.
    */
  def lwwLog(dir: File, seed: Long, nSegments: Int, linesPerSegment: Int,
      keys: Int): IndexedSeq[Checks.Rec] = {
    val r = new Random(seed)
    val tables = Seq("users", "carts")
    val snapTs = BaseTs
    val out = IndexedSeq.newBuilder[Checks.Rec]
    var nextSnap = 0 // keyset cursor over tables × ids
    var liveTs = snapTs
    dir.mkdirs()
    for (s <- 0 until nSegments) {
      val lines = new StringBuilder
      for (i <- 0 until linesPerSegment) {
        val seq = (s.toLong << 40) + i
        val backfill = nextSnap < 2 * keys && r.nextInt(3) == 0
        val (table, id, op, ts) =
          if (backfill) {
            val k = nextSnap; nextSnap += 1
            (tables(k % 2), k / 2, "Backfill", snapTs)
          } else {
            // cube of a uniform draw: a few hot keys take most changes
            val u = r.nextDouble()
            val id = (keys * u * u * u).toInt
            if (r.nextInt(4) == 0) liveTs += 1
            val op = r.nextInt(10) match { case 0 => "Delete"; case 1 | 2 => "Insert"; case _ => "Update" }
            (tables(r.nextInt(2)), id, op, liveTs)
          }
        val row = s"""{"id":$id,"v":"${randName(r)}","n":$seq}"""
        val (before, after) = if (op == "Delete") (row, "null") else ("null", row)
        lines.append(s"""{"op":"$op","db":"app","table":"$table","before":$before,"after":$after,"ts":$ts,"pkey":"id"}""")
          .append('\n')
        out += Checks.Rec(s"app.$table.$id", op, ts, if (backfill) 0 else 1, seq,
          if (op == "Delete") "" else row)
      }
      Files.write(new File(dir, f"log.$s%06d.jsonl").toPath, lines.toString.getBytes("UTF-8"))
    }
    out.result()
  }

  // ---------------------------------------------------- live_tail

  val LiveTables = Seq("t0", "t1", "t2")

  /** The live generator's deterministic event schedule: event n's
    * table, op and row id. The row image also carries `n` and the
    * event's due time, stamped when it is written.
    */
  final class LiveSchedule(seed: Long) {
    private val r = new Random(seed)
    private val pools = LiveTables.map(_ -> scala.collection.mutable.ArrayBuffer.empty[Int]).toMap
    private var nextId = 0
    def next(n: Long): (Checks.LiveEvent, Int) = {
      val t = LiveTables(r.nextInt(LiveTables.size))
      val pool = pools(t)
      val k = r.nextInt(10)
      val op = if (pool.size < 8 || k < 4) "Insert" else if (k < 8) "Update" else "Delete"
      val id = op match {
        case "Insert" => nextId += 1; pool += nextId; nextId
        case "Update" => pool(r.nextInt(pool.size))
        case _ =>
          val i = r.nextInt(pool.size); val id = pool(i)
          pool(i) = pool.last; pool.remove(pool.size - 1); id
      }
      (Checks.LiveEvent(n, "live", t, op), id)
    }
  }

  def liveLine(e: Checks.LiveEvent, id: Int, dueUs: Long): String = {
    val row = s"""{"id":$id,"n":${e.n},"due_us":$dueUs}"""
    val (before, after) = if (e.op == "Delete") (row, "null") else ("null", row)
    s"""{"op":"${e.op}","db":"${e.db}","table":"${e.table}","before":$before,"after":$after,"ts":${dueUs / 1000000L},"pkey":"id"}""" + "\n"
  }

  // ----------------------------------------------- artifact_churn

  val Dim = 64
  private val Vocab = Array("scan", "join", "hash", "merge", "index", "vector",
    "graph", "stream", "batch", "state", "commit", "offset", "segment", "shard",
    "cache", "query", "plan", "sort", "bloom", "token", "delta", "log", "page",
    "tree", "block", "rank", "score", "embed", "probe", "bucket", "filter", "key")

  final case class Doc(id: Long, text: String, vec: IndexedSeq[Double])

  def randDoc(r: Random, id: Long): Doc = Doc(id,
    Iterator.fill(6 + r.nextInt(10))(Vocab(r.nextInt(Vocab.length))).mkString(" ") + s" d$id",
    IndexedSeq.fill(Dim)(math.rint(r.nextGaussian() * 1e4) / 1e4))

  def docRow(d: Doc): String =
    s"""{"id":${d.id},"text":"${d.text}","vec":"${d.vec.mkString("[", ",", "]")}"}"""
}
