package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.connector.read.streaming.ReadLimit

import graft.sources.{ChangeLog, ChangeLogMicroBatchStream, ChangeLogOffset,
  ChangeLogPartition, ChangeLogReaderFactory, ChangeLogScan}

/** DSv2 change-log source (SURVEY §2.1 S1-S3): (file,row) offsets ≙
  * binlog (filename,pos); rotation ≙ next file; checkpoint resume ≙
  * the SQLite log_pos upsert; maxRowsPerTrigger ≙ page-size bound.
  */
class ChangeLogSourceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Fmt = "graft.sources.ChangeLogSource"

  private def logLine(i: Int): String = {
    val op = Seq("Insert", "Update", "Delete")(i % 3)
    val before = if (op == "Insert") "null" else s"""{"id":"$i","v":"old$i"}"""
    val after = if (op == "Delete") "null" else s"""{"id":"$i","v":"new$i"}"""
    s"""{"op":"$op","db":"db${i % 2}","table":"users","before":$before,"after":$after,"ts":${1700000000 + i},"pkey":"id"}"""
  }

  /** A segment of complete lines: each ends in its newline. */
  private def writeLog(dir: String, name: String, from: Int, until: Int): Unit =
    Files.write(Paths.get(dir, name),
      (from until until).map(logLine(_) + "\n").mkString.getBytes)

  private def readPartition(p: InputPartition): Seq[InternalRow] = {
    val r = new ChangeLogReaderFactory().createReader(p)
    try Iterator.continually(r).takeWhile(_.next()).map(_.get().copy()).toVector
    finally r.close()
  }

  /** The rows the reader serves for one `[from, until)` window of `file`. */
  private def readSlice(file: String, from: Long, until: Long): Seq[InternalRow] =
    readPartition(ChangeLogPartition(file, from, until, seqBase = 100L))

  private val SeqIdx = ChangeLog.schema.fieldIndex("seq")

  /** The driver's own offset planning over `dir`, as the stream does it. */
  private def microBatchStream(dir: String): ChangeLogMicroBatchStream =
    new ChangeLogScan(dir, None)
      .toMicroBatchStream("") // the source keeps nothing in its checkpoint
      .asInstanceOf[ChangeLogMicroBatchStream]

  private def plan(s: ChangeLogMicroBatchStream, from: ChangeLogOffset,
      until: ChangeLogOffset): Seq[ChangeLogPartition] =
    s.planInputPartitions(from, until).toSeq.map(_.asInstanceOf[ChangeLogPartition])

  /** A mid-file slice returns exactly the rows, `seq` included, that a
    * whole-file read gives in `[from, until)`.
    */
  private def assertMidFileSlice(file: String, from: Long, until: Long): Unit = {
    val whole = readSlice(file, 0L, Long.MaxValue)
    assert(0 < from && from < until && until < whole.size, "a mid-file window")
    val slice = readSlice(file, from, until)
    assert(slice.map(_.getLong(SeqIdx)) == (100L + from until 100L + until))
    assert(slice == whole.filter { r =>
      val i = r.getLong(SeqIdx) - 100L
      i >= from && i < until
    })
  }

  test("batch read: whole log, schema + null/ts semantics") {
    val dir = Files.createTempDirectory("cl_batch").toString
    writeLog(dir, "log.000001.jsonl", 0, 6)
    // short name resolves via DataSourceRegister
    val df = spark.read.format("graft-changelog").option("path", dir).load()
    assert(df.count() == 6)
    val r = df.filter(col("seq") === 0).head()
    assert(r.getAs[String]("op") == "Insert")
    assert(r.getAs[String]("before") == null)
    assert(r.getAs[String]("after").contains(""""v":"new0""""))
    assert(r.getAs[java.sql.Timestamp]("ts").getTime == 1700000000000L)
    // Delete rows carry only the before image
    assert(df.filter(col("op") === "Delete" && col("after").isNotNull).count() == 0)
  }

  test("batch read: seq values are unique and file-monotonic across segments") {
    val dir = Files.createTempDirectory("cl_batch_seq").toString
    writeLog(dir, "log.000001.jsonl", 0, 5)
    writeLog(dir, "log.000002.jsonl", 5, 9)
    val df = spark.read.format(Fmt).option("path", dir).load()
    val seqs = df.select("seq").as[Long].collect().toSeq
    // batch reads plan the same per-file seq base as the streaming path
    // (fileIdx << 40), so seq stays the unique monotonic log position —
    // the LWW tie-break — rather than colliding at 0 per file
    assert(seqs.size == 9 && seqs.toSet.size == 9)
    assert(seqs.toSet == ((0L until 5L) ++ (5L until 9L).map(i => (1L << 40) + i - 5)).toSet)
    assertMidFileSlice(s"$dir/log.000001.jsonl", 1L, 4L)
  }

  test("driver row-count scans are memoized: one scan per sealed segment") {
    val dir = Files.createTempDirectory("cl_memo").toString
    val ckp = Files.createTempDirectory("cl_memo_ckp").toString
    writeLog(dir, "log.000001.jsonl", 0, 8)
    writeLog(dir, "log.000002.jsonl", 8, 14)
    val before = graft.sources.ChangeLog.scansPerformed.get()
    var batches = 0
    val q = spark.readStream.format(Fmt).option("path", dir)
      .option("maxRowsPerTrigger", "3").load()
      .writeStream
      .option("checkpointLocation", ckp)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        batches += 1; b.count(); ()
      }.start()
    q.awaitTermination()
    assert(batches >= 4) // several admission-limited triggers ran ...
    // ... yet each immutable segment was line-scanned exactly once
    assert(graft.sources.ChangeLog.scansPerformed.get() - before == 2L)
  }

  test("a torn JSONL last line is planned and read only after its newline lands") {
    val dir = Files.createTempDirectory("cl_torn").toString
    val f = Paths.get(dir, "log.000001.jsonl")
    writeLog(dir, "log.000001.jsonl", 0, 3)
    val line3 = logLine(3)
    def append(s: String): Unit =
      Files.write(f, s.getBytes, java.nio.file.StandardOpenOption.APPEND)
    append(line3.take(40)) // a writer caught mid-line
    assert(spark.read.format(Fmt).option("path", dir).load().count() == 3)
    val s = microBatchStream(dir)
    val start = s.initialOffset().asInstanceOf[ChangeLogOffset]
    val e1 = s.latestOffset(start, ReadLimit.allAvailable()).asInstanceOf[ChangeLogOffset]
    assert(e1 == ChangeLogOffset(0, 3L))
    // the whole file is the window, and the torn line still stays out
    assert(readSlice(f.toString, 0L, Long.MaxValue).size == 3)
    assert(plan(s, start, e1).flatMap(readPartition).map(_.getLong(SeqIdx)) == Seq(0L, 1L, 2L))
    append(line3.drop(40) + "\n")
    val e2 = s.latestOffset(e1, ReadLimit.allAvailable()).asInstanceOf[ChangeLogOffset]
    assert(e2 == ChangeLogOffset(0, 4L))
    val rows = plan(s, e1, e2).flatMap(readPartition)
    assert(rows.map(_.getLong(SeqIdx)) == Seq(3L))
    assert(rows.head.getUTF8String(ChangeLog.schema.fieldIndex("after")).toString ==
      """{"id":"3","v":"new3"}""")
    assert(spark.read.format(Fmt).option("path", dir).load().count() == 4)
  }

  test("micro-batch: offsets resume across file rotation, no reprocessing") {
    val dir = Files.createTempDirectory("cl_stream").toString
    val ckp = Files.createTempDirectory("cl_ckp").toString
    val out = Files.createTempDirectory("cl_sink").toString + "/out"
    writeLog(dir, "log.000001.jsonl", 0, 10)

    def drain(): Long = {
      val q = spark.readStream.format(Fmt).option("path", dir).load()
        .writeStream
        .option("checkpointLocation", ckp)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.write.mode("append").parquet(out)
        }.start()
      q.awaitTermination()
      spark.read.parquet(out).count()
    }

    assert(drain() == 10L)
    // rotation: a second log file appears
    writeLog(dir, "log.000002.jsonl", 10, 15)
    assert(drain() == 15L) // only 5 new rows processed
    val seqs = spark.read.parquet(out).select("seq").as[Long].collect().toSet
    assert(seqs.size == 15) // distinct positions: no duplicates
  }

  // ---- wire-framed binlog segments (S1's file half: real event
  // framing, decoded by graft.sources.Binlog behind the same offsets)

  import BinlogFixture._
  import graft.sources.Binlog

  private val UserTypes = Seq(Binlog.TypeLong, Binlog.TypeVarchar,
    Binlog.TypeTiny, Binlog.TypeLongLong)
  private val UserMetas = Seq(0, 255, 0, 0)

  private def binlogSeg1(nextName: String): Array[Byte] = file(Seq(
    (1700000000L, Binlog.FormatDescription, fdePayload()),
    (1700000001L, Binlog.TableMapEvent,
      tableMapPayload(23L, "shop", "users", UserTypes, UserMetas)),
    // one multi-row insert (2 rows, one with a NULL and a negative)
    (1700000001L, Binlog.WriteRowsV2,
      rowsPayload(23L, UserTypes, UserMetas, Seq(
        Seq(I(1), S("ada"), I(7), I(1234567890123L)),
        Seq(I(2), NULL, I(-5), I(-42))))),
    (1700000002L, Binlog.UpdateRowsV2,
      updateRowsPayload(23L, UserTypes, UserMetas, Seq(
        (Seq(I(1), S("ada"), I(7), I(1234567890123L)),
          Seq(I(1), S("ada l."), I(8), I(1234567890123L)))))),
    (1700000003L, Binlog.Rotate, rotatePayload(nextName))))

  private def binlogSeg2(): Array[Byte] = file(Seq(
    (1700000010L, Binlog.FormatDescription, fdePayload()),
    (1700000011L, Binlog.TableMapEvent,
      tableMapPayload(24L, "shop", "users", UserTypes, UserMetas)),
    (1700000012L, Binlog.DeleteRowsV2,
      rowsPayload(24L, UserTypes, UserMetas, Seq(
        Seq(I(2), NULL, I(-5), I(-42)))))))

  test("binlog decode: insert/update/delete images, nulls, negatives, multi-row events, rotate") {
    val d = Binlog.decodeFile(binlogSeg1("log.000002.binlog"))
    assert(d.changes.map(_.op) == Seq("Insert", "Insert", "Update"))
    assert(d.changes.forall(c => c.db == "shop" && c.table == "users"))
    val ins = d.changes.head
    assert(ins.before.isEmpty)
    assert(ins.after.get ==
      """{"c0":1,"c1":"ada","c2":7,"c3":1234567890123}""")
    // null bitmap + signed little-endian decode
    assert(d.changes(1).after.get == """{"c0":2,"c1":null,"c2":-5,"c3":-42}""")
    val upd = d.changes(2)
    assert(upd.before.get.contains(""""c1":"ada"""") &&
      upd.after.get.contains(""""c1":"ada l."""))
    assert(upd.tsSec == 1700000002L)
    // event positions are strictly increasing byte offsets
    assert(d.changes.map(_.pos) == d.changes.map(_.pos).sorted)
    // the rotate names the next segment — the continuation contract
    assert(d.rotate.contains(
      Binlog.RotateTo("log.000002.binlog", 4L)))

    val d2 = Binlog.decodeFile(binlogSeg2())
    assert(d2.changes.map(_.op) == Seq("Delete"))
    assert(d2.changes.head.after.isEmpty)
    assert(d2.changes.head.before.get ==
      """{"c0":2,"c1":null,"c2":-5,"c3":-42}""")
  }

  test("binlog temporals decode to the TypeMap wire forms") {
    val types = Seq(Binlog.TypeLong, Binlog.TypeDate, Binlog.TypeDatetime2)
    val metas = Seq(0, 0, 0) // fsp = 0
    val bytes = file(Seq(
      (1L, Binlog.TableMapEvent, tableMapPayload(7L, "d", "t", types, metas)),
      (2L, Binlog.WriteRowsV2, rowsPayload(7L, types, metas, Seq(
        Seq(I(5), D(2024, 2, 29), DT(2023, 12, 31, 23, 59, 58)),
        Seq(I(6), D(1000, 1, 1), DT(9999, 1, 1, 0, 0, 0)))))))
    val d = Binlog.decodeFile(bytes)
    assert(d.changes.map(_.after.get) == Seq(
      """{"c0":5,"c1":"2024-02-29","c2":"2023-12-31 23:59:58"}""",
      """{"c0":6,"c1":"1000-01-01","c2":"9999-01-01 00:00:00"}"""))
  }

  test("binlog DATETIME2 fsp 1-6: fractional bytes decode to exactly fsp digits") {
    // one column per fsp class: odd/even widths at 1, 2 and 3 frac
    // bytes, plus a .000000 zero fraction — every byte-width path
    val types = Seq.fill(5)(Binlog.TypeDatetime2)
    val metas = Seq(1, 2, 3, 6, 6) // fsp per column
    val bytes = file(Seq(
      (1L, Binlog.TableMapEvent, tableMapPayload(9L, "d", "t", types, metas)),
      (2L, Binlog.WriteRowsV2, rowsPayload(9L, types, metas, Seq(Seq(
        DT(2024, 6, 1, 12, 0, 1, 900000),  // fsp=1 -> ".9"
        DT(2024, 6, 1, 12, 0, 2, 120000),  // fsp=2 -> ".12"
        DT(2024, 6, 1, 12, 0, 3, 123000),  // fsp=3 -> ".123"
        DT(2024, 6, 1, 12, 0, 4, 123456),  // fsp=6 -> ".123456"
        DT(2024, 6, 1, 12, 0, 5, 0)))))))  // fsp=6 -> ".000000"
    val d = Binlog.decodeFile(bytes)
    assert(d.changes.head.after.get ==
      """{"c0":"2024-06-01 12:00:01.9",""" +
      """"c1":"2024-06-01 12:00:02.12",""" +
      """"c2":"2024-06-01 12:00:03.123",""" +
      """"c3":"2024-06-01 12:00:04.123456",""" +
      """"c4":"2024-06-01 12:00:05.000000"}""")
  }

  test("binlog fuzz: random schemas and rows round-trip encode->decode") {
    val rnd = new scala.util.Random(42)
    val allTypes = Seq(Binlog.TypeTiny, Binlog.TypeShort, Binlog.TypeInt24,
      Binlog.TypeLong, Binlog.TypeLongLong, Binlog.TypeVarchar,
      Binlog.TypeDate, Binlog.TypeDatetime2)
    def randVal(t: Int): V = t match {
      case Binlog.TypeTiny => I(rnd.nextInt(256) - 128)
      case Binlog.TypeShort => I(rnd.nextInt(65536) - 32768)
      case Binlog.TypeInt24 => I(rnd.nextInt(1 << 24) - (1 << 23))
      case Binlog.TypeLong => I(rnd.nextInt())
      case Binlog.TypeLongLong => I(rnd.nextLong())
      case Binlog.TypeVarchar =>
        S(rnd.alphanumeric.take(rnd.nextInt(40)).mkString)
      case Binlog.TypeDate =>
        D(1000 + rnd.nextInt(9000), 1 + rnd.nextInt(12), 1 + rnd.nextInt(28))
      case Binlog.TypeDatetime2 =>
        DT(1000 + rnd.nextInt(9000), 1 + rnd.nextInt(12), 1 + rnd.nextInt(28),
          rnd.nextInt(24), rnd.nextInt(60), rnd.nextInt(60))
    }
    def jsonOf(v: V, fsp: Int): String = v match {
      case NULL => "null"
      case I(x) => x.toString
      case S(s) => "\"" + s + "\"" // fuzz strings are alnum: no escaping
      case D(y, m, d) => f""""$y%04d-$m%02d-$d%02d""""
      case DT(y, mo, d, h, mi, se, us) =>
        val base = f"$y%04d-$mo%02d-$d%02d $h%02d:$mi%02d:$se%02d"
        val frac = if (fsp == 0) ""
          else "." + ("%0" + fsp + "d").format(
            us / math.pow(10, 6 - fsp).toLong)
        "\"" + base + frac + "\""
    }
    for (trial <- 1 to 40) {
      val nCols = 1 + rnd.nextInt(6)
      val types = Seq.fill(nCols)(allTypes(rnd.nextInt(allTypes.size)))
      val metas = types.map {
        case Binlog.TypeVarchar => if (rnd.nextBoolean()) 255 else 300
        case Binlog.TypeDatetime2 => rnd.nextInt(7) // fsp 0-6
        case _ => 0
      }
      val rows = Seq.fill(1 + rnd.nextInt(4))(
        types.zip(metas).map { case (t, m) =>
          if (rnd.nextInt(5) == 0) NULL
          else randVal(t) match {
            // fraction representable at this column's fsp
            case dt: DT => dt.copy(micros =
              rnd.nextInt(math.pow(10, m).toInt) *
                math.pow(10, 6 - m).toLong.toInt)
            case v => v
          }
        })
      val bytes = file(Seq(
        (1L, Binlog.TableMapEvent,
          tableMapPayload(trial.toLong, "fz", s"t$trial", types, metas)),
        (2L, Binlog.WriteRowsV2,
          rowsPayload(trial.toLong, types, metas, rows))))
      val got = Binlog.decodeFile(bytes).changes.map(_.after.get)
      val want = rows.map(r => r.zipWithIndex
        .map { case (v, i) => s""""c$i":${jsonOf(v, metas(i))}""" }
        .mkString("{", ",", "}"))
      assert(got == want, s"trial $trial types=$types")
    }
  }

  private def user(i: Int): Seq[V] =
    Seq(I(i), if (i % 4 == 0) NULL else S(s"u$i"), I(i % 7 - 3), I(i * 1000003L))

  /** A CRC32-checked segment of 12 rows in 5 rows events over two
    * tables: rows 0-2 WRITE, 3-4 UPDATE, 5 WRITE, 6-7 DELETE, 8-11
    * WRITE, then a rotate.
    */
  private def multiRowSeg(): Array[Byte] = file(Seq(
    (1700000100L, Binlog.FormatDescription, fdePayload()),
    (1700000101L, Binlog.TableMapEvent,
      tableMapPayload(30L, "shop", "users", UserTypes, UserMetas)),
    (1700000101L, Binlog.WriteRowsV2,
      rowsPayload(30L, UserTypes, UserMetas, (1 to 3).map(user))),
    (1700000102L, Binlog.UpdateRowsV2,
      updateRowsPayload(30L, UserTypes, UserMetas,
        Seq((user(1), user(11)), (user(2), user(12))))),
    (1700000103L, Binlog.TableMapEvent,
      tableMapPayload(31L, "crm", "accounts", UserTypes, UserMetas)),
    (1700000103L, Binlog.WriteRowsV2,
      rowsPayload(31L, UserTypes, UserMetas, Seq(user(4)))),
    (1700000104L, Binlog.DeleteRowsV2,
      rowsPayload(30L, UserTypes, UserMetas, Seq(user(3), user(11)))),
    (1700000105L, Binlog.WriteRowsV2,
      rowsPayload(31L, UserTypes, UserMetas, (5 to 8).map(user))),
    (1700000106L, Binlog.Rotate, rotatePayload("log.000002.binlog"))),
    checksum = true)

  test("binlog slices: every [from, until) window the driver plans equals the whole-file read's, seq included") {
    val dir = Files.createTempDirectory("cl_binlog_slices").toString
    val f = Paths.get(dir, "log.000001.binlog")
    Files.write(f, multiRowSeg())
    Files.write(Paths.get(dir, "log.000002.binlog"), binlogSeg2())
    val whole = readPartition(ChangeLogPartition(f.toString, 0L, Long.MaxValue, 0L))
    val pos = Binlog.decodeFile(multiRowSeg()).changes.map(_.pos)
    assert(whole.map(_.getLong(SeqIdx)) == (0L until 12L))
    val s = microBatchStream(dir)
    // every end inside the segment, and its end: a slice to (1, 0)
    // reads the first segment to its last row
    for (from <- 0 until 12;
         end <- (from + 1 to 12).map(ChangeLogOffset(0, _)) :+ ChangeLogOffset(1, 0L)) {
      val Seq(p) = plan(s, ChangeLogOffset(0, from), end)
      // the slice starts at the event holding row `from`
      assert((p.startPos, p.startRow) == (pos(from), pos.indexOf(pos(from)).toLong))
      val until = if (end.fileIdx == 0) end.row.toInt else 12
      assert(readPartition(p) == whole.slice(from, until), s"[$from, $until)")
    }
  }

  test("a maxRowsPerTrigger 3 stream over .binlog segments yields exactly the batch read's rows") {
    val dir = Files.createTempDirectory("cl_binlog_stream").toString
    val ckp = Files.createTempDirectory("cl_binlog_stream_ckp").toString
    Files.write(Paths.get(dir, "log.000001.binlog"), multiRowSeg())
    Files.write(Paths.get(dir, "log.000002.binlog"), binlogSeg2())
    val batch = spark.read.format(Fmt).option("path", dir).load().collect().toSeq
    var streamed = Vector.empty[org.apache.spark.sql.Row]
    var sizes = Vector.empty[Int]
    val q = spark.readStream.format(Fmt).option("path", dir)
      .option("maxRowsPerTrigger", "3").load()
      .writeStream
      .option("checkpointLocation", ckp)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = b.collect()
        sizes :+= rows.length
        streamed ++= rows
        ()
      }.start()
    q.awaitTermination()
    assert(batch.size == 13 && sizes.sum == 13 && sizes.forall(_ <= 3))
    assert(streamed == batch)
  }

  test("binlog slices keep the checks before their start and read nothing past until") {
    val dir = Files.createTempDirectory("cl_binlog_checks").toString
    val f = Paths.get(dir, "log.000001.binlog")
    val clean = multiRowSeg()
    val changes = Binlog.decodeFile(clean).changes
    val index = Binlog.RowsIndex.of(changes)
    def part(from: Long, until: Long) = {
      val (startPos, startRow) = index.startOf(from)
      ChangeLogPartition(f.toString, from, until, 0L, startPos, startRow)
    }
    Files.write(f, clean)
    val want = readPartition(part(0L, Long.MaxValue))
    // rows 4-6: from inside the UPDATE event (rows 3-4), into the DELETE
    // event (rows 6-7); rows 4-7 end with the DELETE event
    assert(part(4L, 7L).startPos == changes(3).pos && part(4L, 7L).startRow == 3L)
    // garbage right after the DELETE event, which holds row until-1
    Files.write(f, clean.take(changes(8).pos.toInt) ++ Array.fill[Byte](64)(0x5a))
    val e0 = intercept[IllegalArgumentException](
      Binlog.decodeFile(Files.readAllBytes(f)))
    assert(e0.getMessage.contains(s"truncated event at ${changes(8).pos}"))
    for (until <- Seq(7L, 8L))
      assert(readPartition(part(4L, until)) == want.slice(4, until.toInt))
    // one flipped CRC byte in the first WRITE event (rows 0-2), before
    // the slice's start: the slice still fails on it
    val bad = clean.clone()
    val crcByte = changes(3).pos.toInt - 1 // the last byte of that event
    bad(crcByte) = (bad(crcByte) ^ 0x01).toByte
    Files.write(f, bad)
    val e = intercept[IllegalArgumentException](readPartition(part(4L, 7L)))
    assert(e.getMessage.contains(s"CRC32 mismatch at offset ${changes(0).pos}"))
  }

  test("row images render the bytes of an ObjectNode holding the same values") {
    val types = Seq(Binlog.TypeVarchar, Binlog.TypeBlob, Binlog.TypeNewDecimal,
      Binlog.TypeTime2, Binlog.TypeFloat, Binlog.TypeDouble, Binlog.TypeLongLong)
    val metas = Seq(255, 2, (12 << 8) | 4, 6, 4, 8, 0)
    val text = "q\"uote \\ back\u0001ctl \t é 日本 \ud83d\ude00"
    val bytes = file(Seq(
      (1L, Binlog.TableMapEvent, tableMapPayload(5L, "d", "t", types, metas)),
      (2L, Binlog.WriteRowsV2, rowsPayload(5L, types, metas, Seq(
        Seq(S(text), BLOB(Array(0xff, 0x00, 0xc3, 0x7f).map(_.toByte)),
          DEC("-12345678.0042"), TM(neg = true, 838, 59, 59, 5),
          F(-1.25e-3f), DBL(-6.02214076e23), I(Long.MinValue)),
        Seq(S(""), BLOB(Array(0x80.toByte)), DEC("-0.0100"),
          TM(neg = true, 0, 0, 0, 120000), F(Float.MaxValue), DBL(1e-300),
          NULL))))))
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val n0 = m.createObjectNode()
    n0.put("c0", text); n0.put("c1", "FF00C37F"); n0.put("c2", "-12345678.0042")
    n0.put("c3", "-838:59:59.000005"); n0.put("c4", -1.25e-3f)
    n0.put("c5", -6.02214076e23); n0.put("c6", Long.MinValue)
    val n1 = m.createObjectNode()
    n1.put("c0", ""); n1.put("c1", "80"); n1.put("c2", "-0.0100")
    n1.put("c3", "-000:00:00.120000"); n1.put("c4", Float.MaxValue)
    n1.put("c5", 1e-300); n1.putNull("c6")
    assert(Binlog.decodeFile(bytes).changes.map(_.after.get) ==
      Seq(m.writeValueAsString(n0), m.writeValueAsString(n1)))
  }

  test("binlog segments read through the DSv2 source: envelope rows, batch + resume across rotation") {
    val dir = Files.createTempDirectory("cl_binlog").toString
    val ckp = Files.createTempDirectory("cl_binlog_ckp").toString
    val out = Files.createTempDirectory("cl_binlog_sink").toString + "/out"
    Files.write(Paths.get(dir, "log.000001.binlog"),
      binlogSeg1("log.000002.binlog"))

    // batch: events are not rows — 3 row-changes from 5 events
    val df = spark.read.format(Fmt).option("path", dir).load()
    assert(df.count() == 3)
    val r = df.filter(col("op") === "Update").head()
    assert(r.getAs[String]("db") == "shop")
    assert(r.getAs[String]("pkey") == "") // empty on live changes
    assert(r.getAs[java.sql.Timestamp]("ts").getTime == 1700000002000L)
    assertMidFileSlice(s"$dir/log.000001.binlog", 1L, 2L)

    def drain(): Long = {
      val q = spark.readStream.format(Fmt).option("path", dir)
        .option("maxRowsPerTrigger", "2").load()
        .writeStream
        .option("checkpointLocation", ckp)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.write.mode("append").parquet(out)
        }.start()
      q.awaitTermination()
      spark.read.parquet(out).count()
    }

    assert(drain() == 3L)
    // the rotate's named successor appears; resume picks up ONLY it
    Files.write(Paths.get(dir, "log.000002.binlog"), binlogSeg2())
    assert(drain() == 4L)
    val got = spark.read.parquet(out)
    assert(got.select("seq").as[Long].collect().toSet.size == 4)
    assert(got.filter(col("op") === "Delete")
      .select("before").as[String].head() ==
      """{"c0":2,"c1":null,"c2":-5,"c3":-42}""")
  }

  test("maxRowsPerTrigger bounds each micro-batch (admission control)") {
    val dir = Files.createTempDirectory("cl_limit").toString
    val ckp = Files.createTempDirectory("cl_limit_ckp").toString
    writeLog(dir, "log.000001.jsonl", 0, 9)
    var batchSizes = Vector.empty[Long]
    val q = spark.readStream.format(Fmt).option("path", dir)
      .option("maxRowsPerTrigger", "4").load()
      .writeStream
      .option("checkpointLocation", ckp)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        batchSizes = batchSizes :+ b.count()
      }.start()
    q.awaitTermination()
    assert(batchSizes.sum == 9L)
    assert(batchSizes.forall(_ <= 4L))
    assert(batchSizes.size >= 3)
  }
}
