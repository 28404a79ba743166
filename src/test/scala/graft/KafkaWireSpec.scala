package graft

import java.io.{DataInputStream, DataOutputStream}
import java.net.ServerSocket
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{KafkaWire, Sink}

/** The Kafka wire producer against a SCRIPTED BROKER — the
  * [[BinlogMasterFixture]] pattern on the publish side: an in-process
  * server speaks just enough broker (Metadata v1, Produce v3) to
  * accept the client's frames, and the spec DECODES the captured
  * record batches with its OWN independent reader (header layout,
  * CRC32C re-computation, zigzag varints) — the encoder never checks
  * itself. What this pins end-to-end:
  *
  *  - the [[Sink.kafkaFrame]] record contract survives the socket:
  *    (key, value, topic) rows arrive as Kafka records byte-for-byte;
  *  - the batch format is the real magic-2 layout (a stock broker's
  *    first validation step is exactly the CRC this spec recomputes);
  *  - partitioning matches Kafka's DefaultPartitioner (murmur2).
  */
class KafkaWireSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // ------------------------------------------------ scripted broker

  private final case class Produced(topic: String, partition: Int,
      batch: Array[Byte])

  /** Scripted broker: answers Metadata v1 (by default with itself as
    * sole leader of `nPartitions` per topic; `meta` overrides the
    * broker list + partition→leader map for multi-broker scripts, and
    * `omitTopics` answers with ZERO topics to script a not-yet-created
    * topic), captures Produce v3 record sets, acks with a running
    * base offset.
    */
  private class ScriptedBroker(nPartitions: Int,
      meta: Option[() => (Seq[(Int, String, Int)], Int => Int)] = None,
      omitTopics: Boolean = false,
      partScript: Option[Int => (Short, Int)] = None,
      produceScript: Option[Int => Short] = None) {
    val server = new ServerSocket(0)
    val produced = mutable.ArrayBuffer.empty[Produced]
    // connection/request counters — pin the pooled-connection
    // contract (one dial per broker, metadata refresh on retry)
    val accepted = new java.util.concurrent.atomic.AtomicInteger(0)
    val metaServed = new java.util.concurrent.atomic.AtomicInteger(0)
    private val produceReqs = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile private var running = true
    private var offset = 0L

    private def readString(b: ByteBuffer): String = {
      val n = b.getShort
      val a = new Array[Byte](n); b.get(a); new String(a, UTF_8)
    }

    private def putString(b: ByteBuffer, s: String): Unit = {
      val x = s.getBytes(UTF_8); b.putShort(x.length.toShort); b.put(x)
    }

    val thread = new Thread(() => {
      try {
        while (running) {
          val sock = server.accept()
          accepted.incrementAndGet()
          val in = new DataInputStream(sock.getInputStream)
          val out = new DataOutputStream(sock.getOutputStream)
          try {
            while (true) {
              val size = in.readInt()
              val frame = new Array[Byte](size)
              in.readFully(frame)
              val b = ByteBuffer.wrap(frame)
              val apiKey = b.getShort
              val apiVersion = b.getShort
              val corrId = b.getInt
              readString(b) // client id
              apiKey match {
                case 3 => // Metadata v1
                  assert(apiVersion == 1)
                  metaServed.incrementAndGet()
                  val n = b.getInt
                  val topics = (0 until n).map(_ => readString(b))
                  val (brokers, leaderFor) = meta.map(_()).getOrElse(
                    (Seq((0, "localhost", server.getLocalPort)),
                      (_: Int) => 0))
                  val resp = ByteBuffer.allocate(4096)
                  resp.putInt(corrId)
                  resp.putInt(brokers.size)
                  brokers.foreach { case (id, h, p) =>
                    resp.putInt(id); putString(resp, h)
                    resp.putInt(p); resp.putShort(-1)
                  }
                  resp.putInt(0) // controller
                  val served = if (omitTopics) Nil else topics
                  resp.putInt(served.size)
                  served.foreach { t =>
                    resp.putShort(0); putString(resp, t); resp.put(0.toByte)
                    resp.putInt(nPartitions)
                    (0 until nPartitions).foreach { p =>
                      // partScript overrides (errorCode, leader) per
                      // partition — scripts degraded-cluster metadata
                      val (perr, ldr) = partScript.map(_(p))
                        .getOrElse((0: Short, leaderFor(p)))
                      resp.putShort(perr); resp.putInt(p)
                      resp.putInt(ldr)
                      resp.putInt(1); resp.putInt(math.max(ldr, 0)) // replicas
                      resp.putInt(1); resp.putInt(math.max(ldr, 0)) // isr
                    }
                  }
                  out.writeInt(resp.position())
                  out.write(resp.array(), 0, resp.position()); out.flush()
                case 0 => // Produce v3
                  assert(apiVersion == 3)
                  // produceScript errors the whole request (per its
                  // index) WITHOUT storing — scripts a stale-leader
                  // NACK whose batch must land on the retry
                  val reqErr = produceScript.map(_(produceReqs
                    .getAndIncrement())).getOrElse(0: Short)
                  val txn = b.getShort; if (txn > 0) b.position(b.position() + txn)
                  b.getShort // acks
                  b.getInt   // timeout
                  val nTopics = b.getInt
                  val acks = (0 until nTopics).map { _ =>
                    val topic = readString(b)
                    val nParts = b.getInt
                    topic -> (0 until nParts).map { _ =>
                      val partition = b.getInt
                      val len = b.getInt
                      val batch = new Array[Byte](len); b.get(batch)
                      if (reqErr == 0) produced.synchronized {
                        produced += Produced(topic, partition, batch)
                      }
                      val base = offset
                      offset += 1000 // opaque; client only reports it
                      (partition, base)
                    }
                  }
                  val resp = ByteBuffer.allocate(4096)
                  resp.putInt(corrId)
                  resp.putInt(acks.size)
                  acks.foreach { case (t, ps) =>
                    putString(resp, t); resp.putInt(ps.size)
                    ps.foreach { case (p, base) =>
                      resp.putInt(p); resp.putShort(reqErr)
                      resp.putLong(base); resp.putLong(-1L)
                    }
                  }
                  resp.putInt(0) // throttle_time_ms
                  out.writeInt(resp.position())
                  out.write(resp.array(), 0, resp.position()); out.flush()
                case k => fail(s"unscripted api key $k")
              }
            }
          } catch { case _: java.io.EOFException => () } // client done
          finally sock.close()
        }
      } catch { case _: java.net.SocketException => () } // stopped
    })
    thread.setDaemon(true); thread.start()

    def stop(): Unit = { running = false; server.close() }
  }

  // -------------------------------- independent record-batch reader

  /** Decodes a magic-2 batch with its own layout/varint/CRC logic —
    * deliberately NOT KafkaWire's encoder run backwards. Returns each
    * record's (key, value, CreateTime = baseTimestamp +
    * timestampDelta).
    */
  private def decodeBatch(bytes: Array[Byte])
      : Seq[(Array[Byte], Array[Byte], Long)] = {
    val b = ByteBuffer.wrap(bytes)
    assert(b.getLong == 0L) // baseOffset
    val batchLen = b.getInt
    assert(batchLen == bytes.length - 12, "batchLength covers the rest")
    b.getInt // partitionLeaderEpoch
    assert(b.get() == 2, "magic 2")
    val crc = b.getInt
    val crcCheck = new java.util.zip.CRC32C
    crcCheck.update(bytes, 21, bytes.length - 21)
    assert(crc == crcCheck.getValue.toInt, "CRC32C over attributes..end")
    assert(b.getShort == 0) // attributes: uncompressed, CreateTime
    val lastOffsetDelta = b.getInt
    val baseTs = b.getLong
    val maxTs = b.getLong
    assert(b.getLong == -1L) // producerId: idempotence off
    assert(b.getShort == -1)
    assert(b.getInt == -1)
    val n = b.getInt
    assert(lastOffsetDelta == n - 1)
    def varLong(): Long = {
      var v = 0L; var shift = 0; var x = 0
      do { x = b.get(); v |= (x & 0x7fL) << shift; shift += 7 }
      while ((x & 0x80) != 0)
      (v >>> 1) ^ -(v & 1) // un-zigzag
    }
    val recs = (0 until n).map { i =>
      varLong() // record length
      assert(b.get() == 0) // attributes
      val tsDelta = varLong()
      assert(i > 0 || tsDelta == 0, "baseTimestamp is the first record's")
      assert(varLong() == i, "offsetDelta is the record index")
      val kl = varLong().toInt
      val k = new Array[Byte](math.max(kl, 0)); if (kl > 0) b.get(k)
      val vl = varLong().toInt
      val v = new Array[Byte](math.max(vl, 0)); if (vl > 0) b.get(v)
      assert(varLong() == 0, "no headers")
      (k, v, baseTs + tsDelta)
    }
    assert(maxTs == recs.map(_._3).max, "maxTimestamp is the largest")
    recs
  }

  private def record(k: String, v: String, topic: String = "t",
      ts: Long = 7L) =
    KafkaWire.Record(k.getBytes(UTF_8), v.getBytes(UTF_8), topic, ts)

  private def strings(rs: Seq[KafkaWire.Record]) =
    rs.map(r => (new String(r.key, UTF_8), new String(r.value, UTF_8))).sorted

  // ------------------------------------------------------- the spec

  test("publishFrame ships the kafkaFrame contract through Metadata+Produce, batches decode byte-identical") {
    val broker = new ScriptedBroker(nPartitions = 3)
    try {
      val changes = cdc.ChangeSource.fromEvents(
        cdc.Io.table(spark, "/root/testdata/sf0.001", "events"))
        .limit(40)
      val frame = Sink.kafkaFrame(changes).cache()
      val want = frame.select("key", "value", "topic")
        .as[(Array[Byte], Array[Byte], String)].collect()
        .map(r => (new String(r._1, UTF_8), new String(r._2, UTF_8), r._3))
        .sorted.toSeq

      KafkaWire.publishFrame(frame,
        s"localhost:${broker.server.getLocalPort}", timestampMs = 7L)

      val got = broker.produced.synchronized {
        broker.produced.flatMap { p =>
          decodeBatch(p.batch).map { case (k, v, ts) =>
            // every record must sit on the partition Kafka's own
            // partitioner picks for its key
            assert(p.partition == KafkaWire.partitionFor(k, 3))
            assert(ts == 7L)
            (new String(k, UTF_8), new String(v, UTF_8), p.topic)
          }
        }.sorted.toSeq
      }
      assert(got.nonEmpty && got == want)
      frame.unpersist()
    } finally broker.stop()
  }

  test("murmur2 matches Kafka's published test vectors") {
    // vectors from the public Kafka client test suite
    // (org.apache.kafka.common.utils.UtilsTest)
    assert(KafkaWire.murmur2("21".getBytes(UTF_8)) == -973932308)
    assert(KafkaWire.murmur2("foobar".getBytes(UTF_8)) == -790332482)
    assert(KafkaWire.murmur2(
      "a-little-bit-long-string".getBytes(UTF_8)) == -985981536)
  }

  test("leader routing: each partition's batch lands on its leader's own socket in a two-broker scripted cluster (r15 verdict #5)") {
    // broker B never serves Metadata — it must receive EXACTLY the
    // Produce traffic for the odd partitions it leads; the bootstrap
    // broker (node 0) leads the even ones. Its metadata thunk closes
    // over its own port through a var (the port exists only after
    // construction; the thunk is evaluated per request, long after).
    val brokerB = new ScriptedBroker(nPartitions = 4)
    var selfPort = 0
    val bootstrap = new ScriptedBroker(nPartitions = 4,
      meta = Some(() => (
        Seq((0, "localhost", selfPort),
          (1, "localhost", brokerB.server.getLocalPort)),
        (p: Int) => p % 2)))
    selfPort = bootstrap.server.getLocalPort
    try {
      val recs = (0 until 40).map(i => record(s"key$i", s"val$i"))
      val offsets = KafkaWire.publish("localhost",
        bootstrap.server.getLocalPort, recs)
      val gotA = bootstrap.produced.synchronized { bootstrap.produced.toSeq }
      val gotB = brokerB.produced.synchronized { brokerB.produced.toSeq }
      // every batch sits on the broker leading its partition
      assert(gotA.nonEmpty && gotA.forall(_.partition % 2 == 0))
      assert(gotB.nonEmpty && gotB.forall(_.partition % 2 == 1))
      // placement matches Kafka's DefaultPartitioner per record, and
      // the union round-trips byte-identical
      val decoded = (gotA ++ gotB).flatMap { p =>
        decodeBatch(p.batch).map { case (k, v, _) =>
          assert(p.partition == KafkaWire.partitionFor(k, 4))
          (new String(k, UTF_8), new String(v, UTF_8))
        }
      }.sorted
      assert(decoded == strings(recs))
      // acked offsets cover exactly the produced partitions
      assert(offsets.keySet ==
        (gotA ++ gotB).map(p => (p.topic, p.partition)).toSet)
    } finally { bootstrap.stop(); brokerB.stop() }
  }

  test("two sequential publishes reuse ONE pooled connection per leader — a trigger loop stops re-dialing (verdict r16 #3)") {
    KafkaWire.poolClear()
    val brokerB = new ScriptedBroker(nPartitions = 4)
    var selfPort = 0
    val bootstrap = new ScriptedBroker(nPartitions = 4,
      meta = Some(() => (
        Seq((0, "localhost", selfPort),
          (1, "localhost", brokerB.server.getLocalPort)),
        (p: Int) => p % 2)))
    selfPort = bootstrap.server.getLocalPort
    try {
      def recs(lo: Int, hi: Int) =
        (lo until hi).map(i => record(s"key$i", s"val$i"))
      KafkaWire.publish("localhost", selfPort, recs(0, 20))
      KafkaWire.publish("localhost", selfPort, recs(20, 40))
      // the second publish rode the first's sockets: one dial per
      // broker across BOTH triggers, metadata still refreshed per
      // publish on the pooled bootstrap connection
      assert(bootstrap.accepted.get == 1,
        s"bootstrap dialed ${bootstrap.accepted.get}x")
      assert(brokerB.accepted.get == 1,
        s"leader B dialed ${brokerB.accepted.get}x")
      assert(bootstrap.metaServed.get == 2)
      val decoded = (bootstrap.produced.synchronized {
        bootstrap.produced.toSeq
      } ++ brokerB.produced.synchronized { brokerB.produced.toSeq })
        .flatMap(p => decodeBatch(p.batch))
        .map { case (k, v, _) =>
          (new String(k, UTF_8), new String(v, UTF_8)) }.sorted
      assert(decoded == strings(recs(0, 40)))
    } finally {
      bootstrap.stop(); brokerB.stop(); KafkaWire.poolClear()
    }
  }

  test("a stale-leader produce error invalidates the pooled connection; ONE retry through fresh metadata lands the batch (verdict r16 #3)") {
    KafkaWire.poolClear()
    // first Produce request NACKs NOT_LEADER_FOR_PARTITION (6)
    // without storing; everything after succeeds
    val broker = new ScriptedBroker(nPartitions = 2,
      produceScript = Some(i => if (i == 0) 6: Short else 0: Short))
    try {
      val recs = (0 until 6).map(i => record(s"key$i", s"val$i"))
      val offsets = KafkaWire.publish("localhost",
        broker.server.getLocalPort, recs)
      assert(offsets.nonEmpty)
      // the NACK poisoned the connection mid-parse: re-dialed once
      // and re-fetched metadata before the retry
      assert(broker.accepted.get == 2,
        s"expected one re-dial, saw ${broker.accepted.get} dials")
      assert(broker.metaServed.get == 2)
      // the batch landed exactly once — on the retry
      val decoded = broker.produced.synchronized {
        broker.produced.flatMap(p => decodeBatch(p.batch))
      }.map { case (k, v, _) =>
        (new String(k, UTF_8), new String(v, UTF_8)) }.sorted
      assert(decoded == strings(recs))
    } finally { broker.stop(); KafkaWire.poolClear() }
  }

  test("a topic the Metadata response omits fails fast instead of pinning records to partition 0 (advice r15)") {
    val broker = new ScriptedBroker(nPartitions = 3, omitTopics = true)
    try {
      val e = intercept[IllegalArgumentException] {
        KafkaWire.publish("localhost", broker.server.getLocalPort,
          Seq(record("k", "v", topic = "ghost")))
      }
      assert(e.getMessage.contains("omits topic 'ghost'"))
      assert(broker.produced.synchronized(broker.produced.isEmpty))
    } finally broker.stop()
  }

  test("non-fatal partition metadata (REPLICA_NOT_AVAILABLE with an elected leader) does not fail a publish (advice r16)") {
    // every partition reports code 9 — one replica offline — but the
    // leader is elected: a stock producer routes anyway; the old
    // parse-time require failed the whole publish on a serviceable
    // cluster
    val broker = new ScriptedBroker(nPartitions = 3,
      partScript = Some(_ => (9: Short, 0)))
    try {
      val recs = (0 until 6).map(i => record(s"key$i", s"val$i"))
      val offsets = KafkaWire.publish("localhost",
        broker.server.getLocalPort, recs)
      assert(offsets.nonEmpty)
      val decoded = broker.produced.synchronized {
        broker.produced.flatMap(p => decodeBatch(p.batch))
      }.map { case (k, v, _) => (new String(k, UTF_8), new String(v, UTF_8)) }
        .sorted
      assert(decoded == strings(recs))
    } finally broker.stop()
  }

  test("leader/error enforcement applies only to ROUTED partitions; a routed leaderless partition still fails loud (advice r16)") {
    // partition 0: healthy, leader elected. partition 1: hard error,
    // no leader (mid-election). A publish whose records all land on
    // partition 0 must succeed; one keyed onto partition 1 must fail.
    val broker = new ScriptedBroker(nPartitions = 2,
      partScript = Some(p =>
        if (p == 0) (0: Short, 0) else (5: Short, -1)))
    try {
      def keyFor(target: Int): Array[Byte] =
        (0 until 100).map(i => s"k$i".getBytes(UTF_8))
          .find(k => KafkaWire.partitionFor(k, 2) == target).get
      val ok = KafkaWire.publish("localhost", broker.server.getLocalPort,
        Seq(KafkaWire.Record(keyFor(0), "v".getBytes(UTF_8), "t", 7L)))
      assert(ok.keySet == Set(("t", 0)))
      val e = intercept[IllegalArgumentException] {
        KafkaWire.publish("localhost", broker.server.getLocalPort,
          Seq(KafkaWire.Record(keyFor(1), "v".getBytes(UTF_8), "t", 7L)))
      }
      assert(e.getMessage.contains("routed partition t/1"))
    } finally broker.stop()
  }

  test("batchCreateTime: max event time; an all-null-ts batch stamps epoch 0 instead of NPE-ing the micro-batch (advice r15)") {
    val withTs = Seq(
      (java.sql.Timestamp.from(java.time.Instant.ofEpochMilli(1000L)), 1),
      (java.sql.Timestamp.from(java.time.Instant.ofEpochMilli(9000L)), 2))
      .toDF("ts", "x")
    assert(KafkaWire.batchCreateTime(withTs) == 9000L)
    val allNull = Seq((null.asInstanceOf[java.sql.Timestamp], 1))
      .toDF("ts", "x")
    assert(KafkaWire.batchCreateTime(allNull) == 0L)
  }

  test("wireSink publishes every change-log record exactly once across triggers; an empty frame opens no connection") {
    val broker = new ScriptedBroker(nPartitions = 3)
    val empty = new ScriptedBroker(nPartitions = 3)
    try {
      val dir = java.nio.file.Files.createTempDirectory("kw_log")
      val ckp = java.nio.file.Files.createTempDirectory("kw_ckp").toString
      for (f <- 1 to 2) {
        val lines = (f * 5 until f * 5 + 5).map { i =>
          s"""{"op":"Insert","db":"db${i % 2}","table":"users","before":null,"after":{"id":"$i"},"ts":${1700000000 + i},"pkey":"id"}"""
        }
        java.nio.file.Files.write(dir.resolve(s"log.00000$f.jsonl"),
          lines.mkString("", "\n", "\n").getBytes(UTF_8))
      }
      def batchRead = spark.read.format("graft-changelog")
        .option("path", dir.toString).load()
      val stream = spark.readStream.format("graft-changelog")
        .option("path", dir.toString).option("maxRowsPerTrigger", "3").load()
      val q = KafkaWire.wireSink(stream, ckp,
        Some(s"localhost:${broker.server.getLocalPort}")).get
      try q.processAllAvailable() finally q.stop()
      assert(q.recentProgress.count(_.numInputRows > 0) >= 4)

      def strings(rows: Seq[(Array[Byte], Array[Byte], String)]) =
        rows.map(r => (new String(r._1, UTF_8), new String(r._2, UTF_8), r._3))
          .sorted
      val want = strings(Sink.kafkaFrame(batchRead)
        .select("key", "value", "topic")
        .as[(Array[Byte], Array[Byte], String)].collect().toSeq)
      val got = strings(broker.produced.synchronized {
        broker.produced.toSeq.flatMap { p =>
          decodeBatch(p.batch).map { case (k, v, _) => (k, v, p.topic) }
        }
      })
      assert(want.size == 10 && got == want)

      KafkaWire.publishFrame(Sink.kafkaFrame(batchRead.limit(0)),
        s"localhost:${empty.server.getLocalPort}", timestampMs = 0L)
      assert(empty.accepted.get == 0 && empty.produced.isEmpty)
    } finally { broker.stop(); empty.stop(); KafkaWire.poolClear() }
  }

  /** Writes one JSONL segment of Insert lines per entry of `sizes`
    * into a fresh directory; line `i` (counted across segments) has
    * `after.id` = i, table `t{i % 2}` and `ts` = `1700000000 + i` s.
    */
  private def changeLogDir(sizes: Int*): java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory("kw_log")
    val starts = sizes.scanLeft(0)(_ + _)
    for (f <- sizes.indices) {
      val lines = (starts(f) until starts(f + 1)).map { i =>
        s"""{"op":"Insert","db":"db","table":"t${i % 2}","before":null,"after":{"id":"$i"},"ts":${1700000000 + i},"pkey":"id"}"""
      }
      java.nio.file.Files.write(dir.resolve(f"log.$f%06d.jsonl"),
        lines.mkString("", "\n", "\n").getBytes(UTF_8))
    }
    dir
  }

  private def changeStream(dir: java.nio.file.Path, maxRows: Int) =
    spark.readStream.format("graft-changelog")
      .option("path", dir.toString)
      .option("maxRowsPerTrigger", maxRows.toString).load()

  private val IdIn = "\"id\":\"(\\d+)\"".r

  private def idOf(value: Array[Byte]): Long =
    IdIn.findFirstMatchIn(new String(value, UTF_8)).get.group(1).toLong

  test("wireSink runs ONE Spark job per non-empty trigger: no stamp aggregate, no emptiness probe") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    // (query id, batch id) → jobs, from the local properties the
    // micro-batch thread sets; a marker job flushes the listener bus,
    // which delivers events in order
    val jobs = mutable.Map.empty[(String, Long), Int]
    @volatile var flushed = false
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).foreach { p =>
          if (p.getProperty("kw.flush") != null) flushed = true
          else for {
            q <- Option(p.getProperty("sql.streaming.queryId"))
            b <- Option(p.getProperty("streaming.sql.batchId"))
          } jobs.synchronized {
            jobs((q, b.toLong)) = jobs.getOrElse((q, b.toLong), 0) + 1
          }
        }
    }
    val broker = new ScriptedBroker(nPartitions = 3)
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val ckp = java.nio.file.Files.createTempDirectory("kw_ckp").toString
      val q = KafkaWire.wireSink(changeStream(changeLogDir(5, 5), 3), ckp,
        Some(s"localhost:${broker.server.getLocalPort}")).get
      try q.processAllAvailable() finally q.stop()
      sc.setLocalProperty("kw.flush", "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("kw.flush", null)
      val deadline = System.nanoTime() + 30000000000L
      while (!flushed && System.nanoTime() < deadline) Thread.sleep(10)
      assert(flushed, "listener bus did not drain")
      val batches = q.recentProgress.filter(_.numInputRows > 0)
        .map(_.batchId).toSeq
      assert(batches.size >= 4)
      val counts = jobs.synchronized {
        batches.map(b => b -> jobs.getOrElse((q.id.toString, b), 0))
      }
      assert(counts.forall(_._2 == 1), s"jobs per trigger: $counts")
    } finally { sc.removeSparkListener(listener); broker.stop() }
  }

  test("wireSink stamps each record with its own change's CreateTime (a null ts stamps 0); republishing a batch is byte-identical") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // event times out of order within a partition (negative deltas),
    // and one change without an event time
    val tsMs = Seq(Some(1700000005000L), Some(1700000001000L), None,
      Some(1700000009000L), Some(1700000003000L), Some(1700000002000L))
    val changes = tsMs.zipWithIndex.map { case (t, i) =>
      ("Insert", s"db${i % 2}", "users", null, s"""{"id":"$i"}""",
        t.map(m => new java.sql.Timestamp(m)).orNull)
    }
    val cols = Seq("op", "db", "table", "before", "after", "ts")
    val broker = new ScriptedBroker(nPartitions = 3)
    val twice = new ScriptedBroker(nPartitions = 3)
    try {
      val input =
        MemoryStream[(String, String, String, String, String, java.sql.Timestamp)]
      val ckp = java.nio.file.Files.createTempDirectory("kw_ckp").toString
      val q = KafkaWire.wireSink(input.toDF().toDF(cols: _*), ckp,
        Some(s"localhost:${broker.server.getLocalPort}")).get
      try {
        input.addData(changes.take(4): _*); q.processAllAvailable()
        input.addData(changes.drop(4): _*); q.processAllAvailable()
      } finally q.stop()
      val stamps = broker.produced.synchronized {
        broker.produced.toSeq.flatMap(p => decodeBatch(p.batch))
      }.map { case (_, v, ts) => idOf(v) -> ts }
      assert(stamps.sortBy(_._1) ==
        tsMs.zipWithIndex.map { case (t, i) => i.toLong -> t.getOrElse(0L) })

      // a replayed epoch re-runs the same projection on the same rows
      val frame = Sink.kafkaFrame(changes.toDF(cols: _*),
        timestamp = Some(KafkaWire.createTime)).coalesce(1)
      val bs = s"localhost:${twice.server.getLocalPort}"
      KafkaWire.publishFrame(frame, bs, col("timestamp"))
      val first = twice.produced.synchronized(twice.produced.toSeq)
      KafkaWire.publishFrame(frame, bs, col("timestamp"))
      val second = twice.produced.synchronized(twice.produced.toSeq)
        .drop(first.size)
      def bytes(ps: Seq[Produced]) =
        ps.map(p => (p.topic, p.partition, p.batch.toSeq)).sortBy(_._2)
      assert(first.nonEmpty && bytes(first) == bytes(second))
    } finally { broker.stop(); twice.stop() }
  }

  test("wireSink delivers each table's records in log order when triggers straddle a segment rotate") {
    val broker = new ScriptedBroker(nPartitions = 3)
    try {
      // 1010 rows per trigger: the second trigger reads 990 lines of
      // segment 0 and 20 of segment 1 — a slice publishing on its own
      // would usually beat the big one to the broker
      val dir = changeLogDir(2000, 20)
      val ckp = java.nio.file.Files.createTempDirectory("kw_ckp").toString
      val q = KafkaWire.wireSink(changeStream(dir, 1010), ckp,
        Some(s"localhost:${broker.server.getLocalPort}")).get
      try q.processAllAvailable() finally q.stop()
      assert(q.recentProgress.count(_.numInputRows > 0) == 2)
      val want = spark.read.format("graft-changelog")
        .option("path", dir.toString).load()
        .select(concat(col("db"), lit("."), col("table")),
          get_json_object(col("after"), "$.id").cast("long"), col("seq"))
        .as[(String, Long, Long)].collect().toSeq
        .groupBy(_._1).map { case (k, rs) => k -> rs.sortBy(_._3).map(_._2) }
      // arrival order, per key
      val got = broker.produced.synchronized(broker.produced.toSeq)
        .flatMap(p => decodeBatch(p.batch))
        .groupBy(r => new String(r._1, UTF_8))
        .map { case (k, rs) => k -> rs.map(r => idOf(r._2)) }
      assert(want.keySet == Set("db.t0", "db.t1"))
      want.foreach { case (k, ids) =>
        val at = got(k).zip(ids).indexWhere(p => p._1 != p._2)
        val inOrder = got(k).size == ids.size && at < 0
        assert(inOrder,
          s"$k: id ${got(k).lift(at)} arrived where ${ids.lift(at)} belongs")
      }
    } finally broker.stop()
  }

  test("wireSink is integration-gated exactly like kafkaSink: None without a broker env") {
    val changes = cdc.ChangeSource.fromEvents(
      cdc.Io.table(spark, "/root/testdata/sf0.001", "events"))
    assert(KafkaWire.wireSink(changes, "/tmp/unused", brokers = None).isEmpty)
  }
}
