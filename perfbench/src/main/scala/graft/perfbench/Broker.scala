package graft.perfbench

import java.io.{DataInputStream, DataOutputStream}
import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import com.fasterxml.jackson.databind.ObjectMapper

/** A loopback Kafka broker inside the benchmark process: one node that
  * answers Metadata v1 for any topic (every topic has `partitions`
  * partitions, all led by itself) and Produce v3. It decodes every
  * RecordBatch (verifying its CRC32C), records each record's arrival
  * time and counts requests, records and connections. One thread serves
  * each connection; the sink pools one connection per executor, so the
  * broker normally runs a single serving thread.
  */
final class Broker(partitions: Int) extends AutoCloseable {
  private val server = new ServerSocket(0, 8, InetAddress.getLoopbackAddress)
  val port: Int = server.getLocalPort
  val metadataRequests = new AtomicLong
  val produceRequests = new AtomicLong
  val records = new AtomicLong
  val connections = new AtomicLong
  /** (arrival time µs, arrival) per record, in arrival order. */
  val arrivals = new ConcurrentLinkedQueue[(Long, Checks.Arrival)]
  @volatile var error: Option[Throwable] = None
  @volatile private var open = true
  private val socks = new ConcurrentLinkedQueue[Socket]
  private val threads = new ConcurrentLinkedQueue[Thread]
  private val mapper = new ObjectMapper()

  private val acceptor = new Thread(() => {
    while (open) {
      try {
        val s = server.accept()
        connections.incrementAndGet(); socks.add(s)
        val t = new Thread(() => serve(s), "perfbench-broker-conn")
        t.setDaemon(true); threads.add(t); t.start()
      } catch { case _: java.io.IOException => }
    }
  }, "perfbench-broker-accept")
  acceptor.setDaemon(true)
  acceptor.start()

  private def str(b: ByteBuffer): String = {
    val n = b.getShort
    if (n < 0) null else { val a = new Array[Byte](n); b.get(a); new String(a, UTF_8) }
  }

  private def putStr(b: ByteBuffer, s: String): Unit = {
    val a = s.getBytes(UTF_8); b.putShort(a.length.toShort); b.put(a)
  }

  private def varLong(b: ByteBuffer): Long = {
    var v = 0L; var shift = 0; var byte = 0
    do { byte = b.get() & 0xff; v |= (byte & 0x7fL) << shift; shift += 7 } while ((byte & 0x80) != 0)
    (v >>> 1) ^ -(v & 1)
  }

  private def serve(s: Socket): Unit = {
    val in = new DataInputStream(s.getInputStream)
    val out = new DataOutputStream(s.getOutputStream)
    try {
      while (open) {
        val req = new Array[Byte](in.readInt()); in.readFully(req)
        val b = ByteBuffer.wrap(req)
        val (api, ver, corr) = (b.getShort, b.getShort, b.getInt)
        str(b) // client id
        val resp = (api, ver) match {
          case (3, 1) => metadataRequests.incrementAndGet(); metadata(b)
          case (0, 3) => produceRequests.incrementAndGet(); produce(b)
          case _ => sys.error(s"unsupported api $api v$ver")
        }
        out.writeInt(4 + resp.length); out.writeInt(corr); out.write(resp); out.flush()
      }
    } catch {
      case _: java.io.EOFException | _: java.net.SocketException =>
      case e: Throwable => error = Some(e)
    } finally s.close()
  }

  private def metadata(b: ByteBuffer): Array[Byte] = {
    val topics = (0 until b.getInt).map(_ => str(b))
    val r = ByteBuffer.allocate(1024 + topics.map(t => 64 + t.length + partitions * 32).sum)
    r.putInt(1); r.putInt(0); putStr(r, "127.0.0.1"); r.putInt(port); r.putShort(-1)
    r.putInt(0) // controller
    r.putInt(topics.size)
    topics.foreach { t =>
      r.putShort(0); putStr(r, t); r.put(0.toByte); r.putInt(partitions)
      (0 until partitions).foreach { p =>
        r.putShort(0); r.putInt(p); r.putInt(0)
        r.putInt(1); r.putInt(0); r.putInt(1); r.putInt(0)
      }
    }
    java.util.Arrays.copyOf(r.array(), r.position())
  }

  private def produce(b: ByteBuffer): Array[Byte] = {
    str(b); b.getShort; b.getInt // transactional id, acks, timeout
    val now = Clock.nowUs()
    val acks = (0 until b.getInt).map { _ =>
      val topic = str(b)
      topic -> (0 until b.getInt).map { _ =>
        val partition = b.getInt
        val batch = new Array[Byte](b.getInt); b.get(batch)
        decodeBatch(topic, partition, batch, now)
        partition
      }
    }
    val r = ByteBuffer.allocate(64 + acks.map(a => 64 + a._1.length + a._2.size * 32).sum)
    r.putInt(acks.size)
    acks.foreach { case (t, ps) =>
      putStr(r, t); r.putInt(ps.size)
      ps.foreach { p => r.putInt(p); r.putShort(0); r.putLong(0L); r.putLong(-1L) }
    }
    r.putInt(0)
    java.util.Arrays.copyOf(r.array(), r.position())
  }

  private def decodeBatch(topic: String, partition: Int, batch: Array[Byte],
      now: Long): Unit = {
    val b = ByteBuffer.wrap(batch)
    b.getLong; b.getInt; b.getInt // base offset, length, leader epoch
    require(b.get() == 2, "record batch magic must be 2")
    val crc = b.getInt
    val c = new java.util.zip.CRC32C(); c.update(batch, b.position(), batch.length - b.position())
    require(c.getValue.toInt == crc, s"record batch CRC32C mismatch on $topic/$partition")
    b.position(b.position() + 2 + 4 + 8 + 8 + 8 + 2 + 4)
    val n = b.getInt
    (0 until n).foreach { _ =>
      varLong(b); b.get(); varLong(b); varLong(b) // length, attributes, ts delta, offset delta
      def bytes(): Array[Byte] = {
        val len = varLong(b).toInt
        if (len < 0) null else { val a = new Array[Byte](len); b.get(a); a }
      }
      val key = new String(bytes(), UTF_8)
      val value = mapper.readTree(bytes())
      (0 until varLong(b).toInt).foreach(_ => { bytes(); bytes() })
      val p = value.get("payload")
      // to_json drops null fields: a delete carries only `before`
      val row = Option(p.get("after")).filterNot(_.isNull).getOrElse(p.get("before"))
      records.incrementAndGet()
      arrivals.add((now, Checks.Arrival(topic, partition, key, p.get("op").asText,
        row.get("n").asText.toLong)))
    }
  }

  override def close(): Unit = {
    open = false
    server.close()
    socks.forEach(s => s.close())
    threads.forEach(t => t.join(5000))
    acceptor.join(5000)
  }
}

/** One microsecond wall clock shared by the generator and the broker. */
object Clock {
  private val baseWallUs = System.currentTimeMillis() * 1000L
  private val baseNano = System.nanoTime()
  def nowUs(): Long = baseWallUs + (System.nanoTime() - baseNano) / 1000L
}
