package graft.sources

import java.util.{Map => JMap}

import scala.collection.JavaConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** A DataSource V2 change-log source — the Spark-native shape of the
  * reference's MySQL binlog reader (SURVEY §2.1 S1-S4;
  * reference/src/main.rs:202-303).
  *
  * The log is a directory of lexicographically-ordered segments in
  * either of two formats ([[ChangeLog.listLogFiles]]): JSON-lines files
  * of change envelopes, or `.binlog` files of raw MySQL-framed events
  * ([[Binlog]]). Segments only ever grow at their tail. The streaming
  * offset is `(file index, rows consumed in that file)` — exactly the
  * binlog's `(filename, pos)` pair (reference/src/main.rs:137-141):
  * advancing to the next file is the RotateEvent (S2,
  * main.rs:233-237), and Structured Streaming's checkpoint persists
  * the offset with the same at-least-once contract as the reference's
  * SQLite upsert-per-table-map (S3, main.rs:238-255) — no bespoke
  * state store needed. A JSONL row is a complete line, one that ends
  * in `\n`; a `.binlog` row is one row image (pair) of a rows event.
  *
  * The driver scans each segment once per size it observes: it counts
  * the rows and, for a `.binlog`, keeps a rows-event index (each
  * event's byte position and first-row ordinal, [[Binlog.RowsIndex]]).
  * A planned slice `[from, until)` of a `.binlog` carries the
  * `(startPos, startRow)` of the event holding row `from`, so its
  * reader skips the prefix by event size and stops decoding at
  * `until` ([[Binlog.decodeSlice]]); a JSONL slice reads lines up to
  * `until`.
  *
  * Admission control: `maxRowsPerTrigger` bounds each micro-batch the
  * way `--backfill-batch-size` bounds the reference's pages.
  *
  * Usage:
  * {{{
  *   spark.readStream.format("graft.sources.ChangeLogSource")
  *     .option("path", dir).option("maxRowsPerTrigger", "1000").load()
  * }}}
  *
  * Scale notes: one replication stream is inherently serial (the
  * reference runs one process per source DB — flake.nix:125-152), so
  * each micro-batch plans one partition per file slice; horizontal
  * scale comes from many sources feeding one unioned stream, and from
  * everything downstream being ordinary distributed DataFrames.
  */
class ChangeLogSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "graft-changelog"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ChangeLog.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new ChangeLogTable(properties.get("path"))
  override def supportsExternalMetadata(): Boolean = false
}

object ChangeLog {
  /** Envelope schema: the reference's `Change` (main.rs:55-63) plus
    * `seq`, the per-log monotonic sequence (binlog pos analog).
    */
  val schema: StructType = StructType(Seq(
    StructField("op", StringType, nullable = false),
    StructField("db", StringType, nullable = false),
    StructField("table", StringType, nullable = false),
    StructField("before", StringType, nullable = true),
    StructField("after", StringType, nullable = true),
    StructField("ts", TimestampType, nullable = false),
    StructField("pkey", StringType, nullable = false),
    StructField("seq", LongType, nullable = false)))

  /** Diagnostic: number of driver-side full-file row-count scans ever
    * performed (specs assert one per sealed segment, not one per
    * trigger).
    */
  val scansPerformed = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Log segments: JSONL envelopes or raw MySQL-framed `.binlog`
    * files ([[Binlog]]) — one directory, one offset space; the
    * lexicographic successor is the rotate target.
    */
  def listLogFiles(dir: String): Seq[java.io.File] = {
    val d = new java.io.File(dir)
    Option(d.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile &&
        (f.getName.endsWith(".jsonl") || f.getName.endsWith(".binlog")))
      .sortBy(_.getName).toSeq
  }

  def isBinlog(path: String): Boolean = path.endsWith(".binlog")

  /** Mirror state of [[syncFromMaster]]: the (filename, pos) resume
    * pair — exactly the reference's SQLite offsets row
    * (reference/src/main.rs:238-255), persisted as a sidecar JSON in
    * the log directory (not a `.binlog`/`.jsonl` suffix, so
    * [[listLogFiles]] never serves it as a segment).
    */
  final case class MasterState(filename: String, pos: Long)

  private def stateFile(dir: String) =
    new java.io.File(dir, "_binlog_master.json")

  def readMasterState(dir: String): Option[MasterState] = {
    val f = stateFile(dir)
    if (!f.isFile) None
    else {
      val n = new ObjectMapper().readTree(f)
      Some(MasterState(n.get("filename").asText, n.get("pos").asLong))
    }
  }

  private def writeMasterState(dir: String, s: MasterState): Unit =
    java.nio.file.Files.write(stateFile(dir).toPath,
      s"""{"filename":"${s.filename}","pos":${s.pos}}""".getBytes("UTF-8"))

  /** LIVE ingest (S1's network half): pull the master's binlog over
    * the wire ([[BinlogClient.fetch]] — handshake, REGISTER_SLAVE,
    * BINLOG_DUMP NON_BLOCK) and mirror the streamed events into local
    * `.binlog` segments in `dir`, one per master file, following
    * rotates until the master has no more. The wire events are
    * byte-identical to file events, so a fully-mirrored segment is
    * byte-equal to the master's file and the existing DSv2 source
    * ([[ChangeLogSource]]) serves it through the SAME decode and
    * (fileIdx, row) offset machinery — the wire client replaces only
    * the directory listing's feed, exactly as [[Binlog]]'s scaladoc
    * promised. The (filename, pos) resume pair persists in a sidecar
    * (`_binlog_master.json`); repeated calls are incremental
    * (each dump starts at the last mirrored event's master-stamped
    * `next_position`).
    *
    * Integration-gated like the Kafka sink
    * ([[graft.streaming.Sink.kafkaSink]]): returns None (and opens no
    * socket) unless a `host:port` master is supplied — by default
    * from `SPARK_GRAFT_BINLOG_MASTER`.
    */
  def syncFromMaster(dir: String,
      master: Option[String] = sys.env.get("SPARK_GRAFT_BINLOG_MASTER"),
      user: String = sys.env.getOrElse("SPARK_GRAFT_BINLOG_USER", "repl"),
      password: String = sys.env.getOrElse("SPARK_GRAFT_BINLOG_PASSWORD", ""),
      serverId: Long = 7777L,
      firstFile: String = "binlog.000001"): Option[MasterState] =
    master.map { hp =>
      val (host, port) = hp.lastIndexOf(':') match {
        case i if i > 0 => (hp.substring(0, i), hp.substring(i + 1).toInt)
        case _ => (hp, 3306)
      }
      new java.io.File(dir).mkdirs()
      var state = readMasterState(dir).getOrElse(MasterState(firstFile, 4L))
      var more = true
      while (more) {
        val f = BinlogClient.fetch(host, port, user, password, serverId,
          state.filename, state.pos)
        if (f.events.nonEmpty) {
          val local = new java.io.File(dir, state.filename + ".binlog")
          val out = new java.io.FileOutputStream(local, true)
          try {
            if (local.length() == 0L) out.write(Binlog.Magic)
            f.events.foreach(out.write)
          } finally out.close()
        }
        state = f.decoded.rotate match {
          // a rotate whose target we just crossed into: resume there
          case Some(r) => MasterState(r.nextFile, math.max(r.pos, 4L))
          case None => MasterState(state.filename, math.max(f.endPos, state.pos))
        }
        more = f.decoded.rotate.isDefined
        writeMasterState(dir, state)
      }
      state
    }

  /** A running master tail: the [[syncFromMaster]] loop on its own
    * daemon thread. `stop()` is graceful (finishes the in-flight
    * sync, then exits); `lastError` surfaces the most recent failed
    * poll (the loop keeps polling through transient master outages —
    * the reference process restarts on error under its supervisor,
    * reference/flake.nix:125-152; here the resume pair makes retry
    * free).
    */
  final class MasterTail private[ChangeLog] (dir: String,
      master: String, user: String, password: String, serverId: Long,
      firstFile: String, pollMillis: Long) {
    @volatile private var running = true
    @volatile var lastError: Option[Throwable] = None
    @volatile var syncs: Long = 0L
    private val thread = new Thread(() => {
      while (running) {
        try {
          syncFromMaster(dir, Some(master), user, password, serverId,
            firstFile)
          syncs += 1
          lastError = None
        } catch { case e: Exception => lastError = Some(e) }
        val deadline = System.nanoTime() + pollMillis * 1000000L
        while (running && System.nanoTime() < deadline) Thread.sleep(10)
      }
    }, s"binlog-master-tail($master)")
    thread.setDaemon(true)
    thread.start()
    def stop(): Unit = { running = false; thread.join(30000) }
  }

  /** Turnkey LIVE ingest: keep mirroring the master into `dir` every
    * `pollMillis` while a streaming query consumes the directory —
    * the complete reference drive loop (connect → dump → decode →
    * stream) as one call next to one `readStream`:
    * {{{
    *   val tail = ChangeLog.tailMaster(dir).get // env-gated
    *   val q = spark.readStream.format("graft-changelog")
    *     .option("path", dir).load() ... .start()
    *   // ... q.stop(); tail.stop()
    * }}}
    * Env-gated like [[syncFromMaster]]: None (no thread, no socket)
    * unless a master is configured.
    */
  def tailMaster(dir: String,
      master: Option[String] = sys.env.get("SPARK_GRAFT_BINLOG_MASTER"),
      user: String = sys.env.getOrElse("SPARK_GRAFT_BINLOG_USER", "repl"),
      password: String = sys.env.getOrElse("SPARK_GRAFT_BINLOG_PASSWORD", ""),
      serverId: Long = 7777L,
      firstFile: String = "binlog.000001",
      pollMillis: Long = 1000L): Option[MasterTail] =
    master.map(hp =>
      new MasterTail(dir, hp, user, password, serverId, firstFile,
        pollMillis))

  /** The complete lines of a JSONL segment, in order. A line counts
    * once its `\n` is written (a `\r` before it is dropped); blank
    * lines are skipped. An unterminated last line is a write still in
    * flight, so neither the driver's row count nor the reader serves
    * it until its `\n` lands.
    */
  private[sources] final class JsonlLines(f: java.io.File) extends Iterator[String]
      with java.io.Closeable {
    private val in = new java.io.FileInputStream(f)
    private val buf = new Array[Byte](1 << 16)
    private var filled = 0
    private var at = 0
    private val line = new java.io.ByteArrayOutputStream(256)
    private var pending = advance()

    private def advance(): String = {
      while (true) {
        if (at == filled) {
          filled = in.read(buf)
          at = 0
          if (filled < 0) return null // EOF: a partial line stays unread
        }
        var j = at
        while (j < filled && buf(j) != '\n') j += 1
        line.write(buf, at, j - at)
        at = j
        if (j < filled) {
          at += 1
          val s = line.toString("UTF-8").stripSuffix("\r")
          line.reset()
          if (s.nonEmpty) return s
        }
      }
      null
    }

    override def hasNext: Boolean = pending != null
    override def next(): String = {
      if (pending == null) throw new NoSuchElementException("no more lines")
      val s = pending
      pending = advance()
      s
    }
    override def close(): Unit = in.close()
  }

  /** One JSON line → InternalRow. Field absence/null → SQL null for
    * before/after; ts is epoch seconds in the log (u32 in the
    * reference, main.rs:285).
    */
  def parseLine(mapper: ObjectMapper, line: String, seq: Long): InternalRow = {
    val node = mapper.readTree(line)
    def str(f: String): UTF8String =
      if (node.hasNonNull(f)) {
        val v = node.get(f)
        // row images are nested JSON objects — keep them as JSON text
        // (the envelope carries rows as JSON strings, SURVEY §1.4)
        UTF8String.fromString(if (v.isTextual) v.asText else v.toString)
      } else null
    InternalRow(
      str("op"), str("db"), str("table"), str("before"), str("after"),
      node.get("ts").asLong * 1000000L, // epoch sec → micros
      if (node.hasNonNull("pkey")) str("pkey") else UTF8String.EMPTY_UTF8,
      seq)
  }
}

/** Offset = (index of current file, rows already consumed in it) —
  * the (filename, pos) pair, totally ordered.
  */
case class ChangeLogOffset(fileIdx: Int, row: Long) extends Offset {
  override def json(): String = s"""{"fileIdx":$fileIdx,"row":$row}"""
}

object ChangeLogOffset {
  def fromJson(s: String): ChangeLogOffset = {
    val n = new ObjectMapper().readTree(s)
    ChangeLogOffset(n.get("fileIdx").asInt, n.get("row").asLong)
  }
}

class ChangeLogTable(path: String) extends Table with SupportsRead {
  require(path != null, "path option is required")
  override def name(): String = s"changelog(`$path`)"
  override def schema(): StructType = ChangeLog.schema
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new ChangeLogScan(path,
        Option(options.get("maxRowsPerTrigger")).map(_.toLong))
    }
}

class ChangeLogScan(path: String, maxRowsPerTrigger: Option[Long]) extends Scan {
  override def readSchema(): StructType = ChangeLog.schema
  override def description(): String = s"ChangeLogScan($path)"

  override def toBatch: Batch = new Batch {
    // seq base = file index in the high bits, exactly as the streaming
    // path plans it — seq is the per-log monotonic position and the
    // LWW tie-break, so a batch read of the same log must yield the
    // same seq values as streaming reads
    override def planInputPartitions(): Array[InputPartition] =
      ChangeLog.listLogFiles(path).zipWithIndex.map { case (f, i) =>
        ChangeLogPartition(f.getAbsolutePath, 0L, Long.MaxValue, i.toLong << 40)
          .asInstanceOf[InputPartition]
      }.toArray
    override def createReaderFactory(): PartitionReaderFactory =
      new ChangeLogReaderFactory
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new ChangeLogMicroBatchStream(path, maxRowsPerTrigger)
}

/** One driver scan of a segment, keyed to the size it observed: the
  * row count and, for a `.binlog`, its rows-event index.
  */
private[sources] final case class SegmentScan(size: Long, rows: Long,
    index: Option[Binlog.RowsIndex])

class ChangeLogMicroBatchStream(path: String, maxRowsPerTrigger: Option[Long])
    extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  import org.apache.spark.sql.connector.read.streaming.{ReadLimit, ReadMaxRows}

  // driver-side listing; segments only grow at their tail
  private def files = ChangeLog.listLogFiles(path)

  /** Scans memoized per path: sealed segments are scanned at most once
    * per query lifetime instead of once per file per trigger; a
    * still-growing active segment changes size, is rescanned, and
    * REPLACES its entry — so the map holds exactly one entry per
    * segment (an actively-growing file would otherwise add one stale
    * entry per observed size for the life of the query). Driver-side
    * only.
    */
  private val scans = scala.collection.mutable.HashMap.empty[String, SegmentScan]

  private def scan(f: java.io.File): SegmentScan = synchronized {
    val (path, size) = (f.getAbsolutePath, f.length())
    scans.get(path).filter(_.size == size).getOrElse {
      ChangeLog.scansPerformed.incrementAndGet()
      val s =
        if (ChangeLog.isBinlog(path)) {
          val changes = Binlog.decodeFile(
            java.nio.file.Files.readAllBytes(f.toPath)).changes
          SegmentScan(size, changes.size.toLong, Some(Binlog.RowsIndex.of(changes)))
        } else {
          val lines = new ChangeLog.JsonlLines(f)
          try SegmentScan(size, lines.size.toLong, None) finally lines.close()
        }
      scans.update(path, s)
      s
    }
  }

  /** Where a slice of `f` starting at row `from` begins decoding: the
    * `(startPos, startRow)` of the `.binlog` event holding that row,
    * else the file start. Any scan of the path serves, whatever size it
    * saw: segments only grow at the tail, so an older index still
    * places every row it covers, and the decode walks on past its last
    * event to later rows.
    */
  private def startOf(f: java.io.File, from: Long): (Long, Long) =
    if (!ChangeLog.isBinlog(f.getName)) (4L, 0L)
    else synchronized(scans.get(f.getAbsolutePath)).getOrElse(scan(f))
      .index.fold((4L, 0L))(_.startOf(from))

  /** End-of-log snapshot taken when Trigger.AvailableNow starts: the
    * query drains up to here (possibly over several admission-limited
    * micro-batches), then stops — the snapshot-then-stop half of the
    * reference's snapshot-then-stream flow.
    */
  private var availableNowEnd: Option[ChangeLogOffset] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(trueEnd())

  private def trueEnd(): ChangeLogOffset = {
    val fs = files
    if (fs.isEmpty) ChangeLogOffset(0, 0L)
    else ChangeLogOffset(fs.size - 1, scan(fs.last).rows)
  }

  override def initialOffset(): Offset = ChangeLogOffset(0, 0L)

  override def getDefaultReadLimit: ReadLimit =
    maxRowsPerTrigger.map(ReadLimit.maxRows).getOrElse(ReadLimit.allAvailable())

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead")

  /** Admission-controlled end offset: advance from `start` by at most
    * the row limit — the reference's page-size bound
    * (--backfill-batch-size, main.rs:42-43) applied to the log.
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[ChangeLogOffset]
    val fs = files
    if (fs.isEmpty) return s
    val budget: Long = limit match {
      case m: ReadMaxRows => m.maxRows()
      case _ => Long.MaxValue
    }
    val cap = availableNowEnd.getOrElse(ChangeLogOffset(Int.MaxValue, Long.MaxValue))
    var idx = math.min(s.fileIdx, fs.size - 1)
    var row = if (idx == s.fileIdx) s.row else 0L
    var left = budget
    var done = false
    while (!done) {
      val fileCap = if (idx == cap.fileIdx) cap.row
        else if (idx > cap.fileIdx) 0L else Long.MaxValue
      val n = math.min(scan(fs(idx)).rows, fileCap)
      val take = math.max(math.min(n - row, left), 0L)
      row += take
      left -= take
      if (left <= 0 || idx >= fs.size - 1 || idx >= cap.fileIdx) done = true
      else if (row >= n) { idx += 1; row = 0L }
    }
    ChangeLogOffset(idx, row)
  }

  override def reportLatestOffset(): Offset = trueEnd()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[ChangeLogOffset]
    val e = end.asInstanceOf[ChangeLogOffset]
    val fs = files
    (s.fileIdx to math.min(e.fileIdx, fs.size - 1)).flatMap { i =>
      val from = if (i == s.fileIdx) s.row else 0L
      val until = if (i == e.fileIdx) e.row else Long.MaxValue
      // seq base: file index in the high bits — a monotone log position
      if (until > from) {
        val (startPos, startRow) = startOf(fs(i), from)
        Some(ChangeLogPartition(fs(i).getAbsolutePath, from, until,
          i.toLong << 40, startPos, startRow).asInstanceOf[InputPartition])
      } else None
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ChangeLogReaderFactory
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
  override def deserializeOffset(json: String): Offset =
    ChangeLogOffset.fromJson(json)
}

/** One file slice: rows `[from, until)` of `file`, `seq` = `seqBase` +
  * row ordinal. For a `.binlog`, `(startPos, startRow)` is where the
  * decode starts ([[Binlog.decodeSlice]]); the default `(4, 0)` is the
  * file start, which serves any slice.
  */
case class ChangeLogPartition(file: String, from: Long, until: Long,
    seqBase: Long, startPos: Long = 4L, startRow: Long = 0L)
    extends InputPartition

class ChangeLogReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[ChangeLogPartition]
    if (ChangeLog.isBinlog(p.file)) {
      // wire-framed segment: decode only the slice's rows
      val changes = Binlog.decodeSlice(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(p.file)), p.startPos, p.startRow, p.from,
        p.until).changes
      reader(changes.iterator.zipWithIndex.map { case (rc, k) =>
        InternalRow(
          UTF8String.fromString(rc.op), UTF8String.fromString(rc.db),
          UTF8String.fromString(rc.table),
          rc.before.map(UTF8String.fromString).orNull,
          rc.after.map(UTF8String.fromString).orNull,
          rc.tsSec * 1000000L, // binlog header epoch sec → micros
          UTF8String.EMPTY_UTF8, // pkey empty on live changes
          p.seqBase + p.from + k)
      }, () => ())
    } else {
      val mapper = new ObjectMapper()
      val lines = new ChangeLog.JsonlLines(new java.io.File(p.file))
      // the (from, until) line window the offsets planned: reading
      // stops at `until`
      reader(lines.zipWithIndex.dropWhile(_._2 < p.from)
        .takeWhile(_._2 < p.until).map { case (line, i) =>
          ChangeLog.parseLine(mapper, line, p.seqBase + i)
        }, () => lines.close())
    }
  }

  private def reader(rows: Iterator[InternalRow], onClose: () => Unit)
      : PartitionReader[InternalRow] = new PartitionReader[InternalRow] {
    private var current: InternalRow = _
    override def next(): Boolean =
      rows.hasNext && { current = rows.next(); true }
    override def get(): InternalRow = current
    override def close(): Unit = onClose()
  }
}
