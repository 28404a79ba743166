package graft.streaming

import java.io.{DataInputStream, DataOutputStream}
import java.net.Socket
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{coalesce, col, lit, max, unix_millis}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.cdc.{Routing, Transform, Transforms}

/** Minimal Kafka PRODUCER over the wire protocol — the network half
  * of the publish sink, written against the public Apache Kafka
  * protocol spec the way [[graft.sources.BinlogClient]] is written
  * against the MySQL replication protocol. The sandbox ships no Kafka
  * connector jar, so [[Sink.kafkaSink]]'s `format("kafka")` path can
  * never run here; this client closes that gap end-to-end: the SAME
  * [[Sink.kafkaFrame]] record contract ((key, value, topic) binary
  * rows), published straight onto a broker socket, spec-verified
  * against a scripted broker (KafkaWireSpec) exactly as the binlog
  * client is against a scripted master.
  *
  * Protocol surface (pinned versions, all public):
  *  - Metadata v1 (api 3): topic → partition count discovery;
  *  - Produce v3 (api 0): record batches, acks=-1, per-partition
  *    error/baseOffset response;
  *  - RecordBatch magic 2: CRC32C (castagnoli) over
  *    attributes..records, zigzag-varint record framing — the v2
  *    on-disk/wire format every modern broker requires.
  *
  * Partitioning matches Kafka's DefaultPartitioner for keyed records
  * (murmur2 & 0x7fffffff mod partitions), so a "db.table" routing key
  * lands on the same partition a stock producer would pick — one
  * table's changes keep partition ORDER either way.
  *
  * == Scale shape ==
  *
  * [[publishFrame]] publishes from `foreachPartition` — every
  * EXECUTOR task ships only its partition's rows (records grouped
  * into one batch per (topic, partition) per task): no driver
  * collect, no cross-executor funnel, exactly how the real
  * connector's per-task producers behave. Produce requests are
  * LEADER-ROUTED (r16): the Metadata v1 exchange on the bootstrap
  * broker reports every partition's leader node and every node's
  * advertised address; each task groups its batches by leader and
  * exchanges with each leader over the executor's POOLED connection
  * to it (r17) — one cached socket per (executor, broker), the same
  * (node → channel) cache a stock producer's NetworkClient keeps,
  * invalidated on failure and re-dialed through fresh metadata. A
  * long-running [[wireSink]] thus dials each broker once, not once
  * per trigger; each publish still asks the bootstrap broker for
  * fresh metadata, so it follows partition additions and leader
  * moves at once.
  * A topic missing from the Metadata response or a partition with no
  * elected leader fails the task loudly (advice r15: silently
  * assuming 1 partition pinned records to partition 0, breaking
  * keyed placement once the topic exists with more).
  *
  * [[wireSink]] runs ONE Spark job per trigger: the frame it
  * publishes carries each record's CreateTime from the same
  * projection as key/value/topic, and the frame is coalesced (no
  * shuffle) into one task, which reads the trigger's file slices in
  * log order — so one table's changes reach their partition in log
  * order even when a trigger spans a segment rotate.
  */
object KafkaWire {

  // ------------------------------------------------- wire primitives

  private def zigzag(v: Long): Long = (v << 1) ^ (v >> 63)

  private def writeVarLong(b: ByteBuffer, v0: Long): Unit = {
    var v = zigzag(v0)
    while ((v & ~0x7fL) != 0) {
      b.put(((v & 0x7f) | 0x80).toByte); v >>>= 7
    }
    b.put(v.toByte)
  }

  private def varLen(v0: Long): Int = {
    var v = zigzag(v0); var n = 1
    while ((v & ~0x7fL) != 0) { n += 1; v >>>= 7 }
    n
  }

  private def putString(b: ByteBuffer, s: String): Unit = {
    val bytes = s.getBytes(UTF_8)
    b.putShort(bytes.length.toShort); b.put(bytes)
  }

  private def putNullableString(b: ByteBuffer, s: Option[String]): Unit =
    s match {
      case Some(v) => putString(b, v)
      case None => b.putShort(-1)
    }

  private def readString(b: ByteBuffer): String = {
    val n = b.getShort
    val a = new Array[Byte](n); b.get(a); new String(a, UTF_8)
  }

  private def readNullableString(b: ByteBuffer): Option[String] = {
    val n = b.getShort
    if (n < 0) None
    else { val a = new Array[Byte](n); b.get(a); Some(new String(a, UTF_8)) }
  }

  /** Kafka's murmur2 (DefaultPartitioner seed/final mix) — public
    * algorithm, needed so keyed records land where a stock producer
    * puts them.
    */
  private[graft] def murmur2(data: Array[Byte]): Int = {
    val seed = 0x9747b28c
    val m = 0x5bd1e995
    val r = 24
    var h = seed ^ data.length
    val n4 = data.length / 4
    var i = 0
    while (i < n4) {
      val i4 = i * 4
      var k = (data(i4) & 0xff) | ((data(i4 + 1) & 0xff) << 8) |
        ((data(i4 + 2) & 0xff) << 16) | ((data(i4 + 3) & 0xff) << 24)
      k *= m; k ^= k >>> r; k *= m
      h *= m; h ^= k
      i += 1
    }
    val tail = data.length % 4
    val base = n4 * 4
    if (tail >= 3) h ^= (data(base + 2) & 0xff) << 16
    if (tail >= 2) h ^= (data(base + 1) & 0xff) << 8
    if (tail >= 1) { h ^= data(base) & 0xff; h *= m }
    h ^= h >>> 13; h *= m; h ^= h >>> 15
    h
  }

  /** Kafka's DefaultPartitioner for KEYED records: hash(key) mod N —
    * including the EMPTY key (murmur2 of zero bytes), which a stock
    * producer hashes like any other (review r15). Null keys (the
    * sticky/round-robin regime) are out of scope — this sink's keys
    * are always "db.table" — and pin to partition 0, documented.
    */
  private[graft] def partitionFor(key: Array[Byte],
      nPartitions: Int): Int =
    if (key == null || nPartitions <= 1) 0
    else (murmur2(key) & 0x7fffffff) % nPartitions

  // --------------------------------------------- record batch (v2)

  /** One record to publish: key and value bytes, its topic, and its
    * CreateTime in epoch milliseconds.
    */
  final case class Record(key: Array[Byte], value: Array[Byte],
      topic: String, timestampMs: Long)

  /** One RecordBatch, magic 2: each record at its own CreateTime
    * (baseTimestamp = the first record's, zigzag deltas from it,
    * maxTimestamp = the largest), no compression, idempotence off
    * (producerId −1 — this client offers at-least-once like the
    * reference's relay; exactly-once belongs to the checkpoint layer
    * above).
    */
  private[graft] def encodeRecordBatch(records: Seq[Record])
      : Array[Byte] = {
    val baseTs = records.head.timestampMs
    val recBytes = records.zipWithIndex.map { case (r, i) =>
      val (k, v, tsDelta) = (r.key, r.value, r.timestampMs - baseTs)
      val keyLen = if (k == null) -1 else k.length
      val valLen = if (v == null) -1 else v.length
      val body = 1 + varLen(tsDelta) + varLen(i.toLong) +
        varLen(keyLen.toLong) + math.max(keyLen, 0) +
        varLen(valLen.toLong) + math.max(valLen, 0) + varLen(0L)
      val b = ByteBuffer.allocate(varLen(body.toLong) + body)
      writeVarLong(b, body.toLong)
      b.put(0.toByte)          // attributes
      writeVarLong(b, tsDelta) // timestampDelta
      writeVarLong(b, i.toLong) // offsetDelta
      writeVarLong(b, keyLen.toLong)
      if (keyLen > 0) b.put(k)
      writeVarLong(b, valLen.toLong)
      if (valLen > 0) b.put(v)
      writeVarLong(b, 0L)      // headers
      b.array()
    }
    val recsLen = recBytes.map(_.length).sum
    // attributes(2) lastOffsetDelta(4) baseTs(8) maxTs(8) pid(8)
    // pEpoch(2) baseSeq(4) count(4) = 40 bytes crc'd before records
    val crcRegion = ByteBuffer.allocate(40 + recsLen)
    crcRegion.putShort(0)                           // attributes
    crcRegion.putInt(records.size - 1)              // lastOffsetDelta
    crcRegion.putLong(baseTs)                       // baseTimestamp
    crcRegion.putLong(records.map(_.timestampMs).max) // maxTimestamp
    crcRegion.putLong(-1L)                          // producerId
    crcRegion.putShort(-1)                          // producerEpoch
    crcRegion.putInt(-1)                            // baseSequence
    crcRegion.putInt(records.size)
    recBytes.foreach(crcRegion.put)
    val crc = new java.util.zip.CRC32C
    crc.update(crcRegion.array())
    // baseOffset(8) batchLength(4) leaderEpoch(4) magic(1) crc(4) + region
    val batchLen = 4 + 1 + 4 + crcRegion.capacity()
    val out = ByteBuffer.allocate(8 + 4 + batchLen)
    out.putLong(0L)                                 // baseOffset
    out.putInt(batchLen)
    out.putInt(-1)                                  // partitionLeaderEpoch
    out.put(2.toByte)                               // magic
    out.putInt(crc.getValue.toInt)
    out.put(crcRegion.array())
    out.array()
  }

  // ------------------------------------------------ request framing

  private def framed(apiKey: Short, apiVersion: Short, corrId: Int,
      clientId: String, body: ByteBuffer): Array[Byte] = {
    val header = ByteBuffer.allocate(2 + 2 + 4 + 2 +
      clientId.getBytes(UTF_8).length)
    header.putShort(apiKey); header.putShort(apiVersion)
    header.putInt(corrId); putString(header, clientId)
    val out = ByteBuffer.allocate(4 + header.position() + body.position())
    out.putInt(header.position() + body.position())
    out.put(header.array(), 0, header.position())
    out.put(body.array(), 0, body.position())
    out.array()
  }

  private def exchange(out: DataOutputStream, in: DataInputStream,
      frame: Array[Byte], expectCorrId: Int): ByteBuffer = {
    out.write(frame); out.flush()
    val size = in.readInt()
    val resp = new Array[Byte](size)
    in.readFully(resp)
    val b = ByteBuffer.wrap(resp)
    val corr = b.getInt
    require(corr == expectCorrId,
      s"correlation id mismatch: sent $expectCorrId got $corr")
    b
  }

  // ------------------------------------------------ connection pool

  /** One live broker connection: socket + streams + its own monotonic
    * correlation-id counter (corrIds are a per-connection protocol
    * sequence; a shared counter across sockets would be harmless but
    * non-standard). All request/response exchanges on a connection
    * run under its lock — concurrent `foreachPartition` tasks of one
    * executor share pooled connections, and interleaving two frames
    * on one socket would corrupt both.
    */
  private final class Conn(val host: String, val port: Int) {
    val sock = new Socket()
    // explicit timeouts (review r17): pooled exchanges serialize
    // under the connection lock, so a broker that hangs AFTER the
    // request is written would otherwise block every producing task
    // on this executor forever (readFully never returns, the lock
    // never releases, invalidation never fires). A timed-out read
    // throws (SocketTimeoutException IS an IOException) → the pool
    // invalidates and the retry path re-dials.
    sock.connect(new java.net.InetSocketAddress(host, port), 10000)
    sock.setSoTimeout(120000)
    sock.setTcpNoDelay(true)
    val out = new DataOutputStream(sock.getOutputStream)
    val in = new DataInputStream(sock.getInputStream)
    private var corrId = 0
    def nextCorr(): Int = { corrId += 1; corrId }
    def close(): Unit =
      try sock.close() catch { case _: java.io.IOException => () }
  }

  /** Per-JVM (= per-executor) broker-connection cache keyed by
    * advertised address — the NetworkClient shape (r16 verdict #3): a
    * long-running [[wireSink]] re-used to open one Metadata exchange
    * AND one socket per leader per trigger, doubling broker accept
    * load at high trigger rates. Now a trigger's publish reuses the
    * executor's open sockets; a connection is invalidated (closed +
    * dropped) on ANY failure during its exchange — IO errors leave
    * the stream mid-frame, and a produce error aborts the response
    * parse — so the caller's retry dials fresh through fresh
    * metadata.
    */
  private object ConnPool {
    private val conns =
      scala.collection.concurrent.TrieMap.empty[(String, Int), Conn]

    /** Racing first-users of one broker both dial (the concurrent-map
      * contract: the default may evaluate more than once); exactly one
      * socket enters the pool and the loser's closes instead of
      * leaking a connection per race (review r17).
      */
    private def connFor(host: String, port: Int): Conn =
      conns.get((host, port)) match {
        case Some(c) => c
        case None =>
          val fresh = new Conn(host, port)
          conns.putIfAbsent((host, port), fresh) match {
            case None => fresh
            case Some(winner) => fresh.close(); winner
          }
      }

    /** Run `f` on the pooled connection; on an IO failure the stale
      * socket is invalidated and ONE fresh dial replays `f` — a quiet
      * period longer than the broker's idle-connection reaper leaves
      * EVERY pooled socket half-open, and a single publish-level
      * retry could cure only one of them (review r17). Replaying an
      * exchange whose first send may have been applied is the
      * at-least-once contract. Non-IO failures (produce NACKs,
      * protocol asserts) invalidate and propagate — fresh METADATA,
      * not a fresh socket, is their cure.
      */
    def withConn[A](host: String, port: Int, ioRetries: Int = 1)
        (f: Conn => A): A = {
      val c = connFor(host, port)
      // Left(budget) = go around again with that retry budget: a
      // conn another thread invalidated between our lookup and lock
      // arrives closed (free redial), an IO failure spends one
      val r: Either[Int, A] = c.synchronized {
        if (c.sock.isClosed) { conns.remove((host, port), c); Left(ioRetries) }
        else
          try Right(f(c))
          catch {
            case e: Throwable =>
              conns.remove((host, port), c); c.close()
              e match {
                case _: java.io.IOException if ioRetries > 0 =>
                  Left(ioRetries - 1)
                case _ => throw e
              }
          }
      }
      r match {
        case Right(a) => a
        case Left(n) => withConn(host, port, n)(f)
      }
    }

    def clear(): Unit = {
      conns.values.foreach(_.close()); conns.clear()
    }
  }

  /** Test/operational hook: drop every pooled broker connection. */
  private[graft] def poolClear(): Unit = ConnPool.clear()

  /** Produce error codes a fresh-metadata redial can cure:
    * LEADER_NOT_AVAILABLE (5), NOT_LEADER_FOR_PARTITION (6) — the
    * partition moved; the current metadata is stale, not the batch.
    */
  private val RetriableProduceErrors: Set[Short] = Set(5, 6)

  private[graft] final class RetriableProduceError(msg: String)
    extends RuntimeException(msg)

  // ---------------------------------------------------- metadata v1

  /** Buffer-sizing twin of putString: UTF-8 BYTES, not UTF-16 chars —
    * a multi-byte topic name must size what putString writes
    * (review r15: String.length under-allocated and overflowed).
    */
  private def strLen(s: String): Int = 2 + s.getBytes(UTF_8).length

  /** Everything Produce routing needs from one Metadata v1 round
    * trip: each node's advertised address, each topic's partition
    * count, each partition's leader node (−1 when none elected) and
    * error code. Per-partition health is NOT enforced here — only
    * [[publish]] knows which partitions it actually routes batches
    * to, and a healthy cluster reports non-fatal codes (e.g.
    * REPLICA_NOT_AVAILABLE) on partitions a produce never touches
    * (advice r16: the parse-time require failed the whole publish
    * while the cluster was fully serviceable).
    */
  private final case class ClusterMeta(
      brokers: Map[Int, (String, Int)],
      partitions: Map[String, Int],
      leaders: Map[(String, Int), Int],
      partErrors: Map[(String, Int), Short])

  /** Partition-metadata codes a stock producer ignores when a leader
    * is elected: REPLICA_NOT_AVAILABLE (9) — one replica offline on an
    * otherwise healthy partition. Produce still routes to the leader.
    */
  private val NonFatalPartErrors: Set[Short] = Set(9)

  /** One Metadata v1 round trip on the bootstrap connection. */
  private def clusterMeta(out: DataOutputStream, in: DataInputStream,
      clientId: String, topics: Seq[String], corrId: Int): ClusterMeta = {
    val body = ByteBuffer.allocate(4 + topics.map(strLen).sum)
    body.putInt(topics.size)
    topics.foreach(putString(body, _))
    val resp = exchange(out, in, framed(3, 1, corrId, clientId, body), corrId)
    val nBrokers = resp.getInt
    val brokers = (0 until nBrokers).map { _ =>
      val node = resp.getInt
      val host = readString(resp)
      val port = resp.getInt
      readNullableString(resp) // rack
      node -> (host, port)
    }.toMap
    resp.getInt // controller id
    val nTopics = resp.getInt
    val perTopic = (0 until nTopics).map { _ =>
      val err = resp.getShort
      val topic = readString(resp)
      resp.get() // is_internal
      val nParts = resp.getInt
      val parts = (0 until nParts).map { _ =>
        val perr = resp.getShort
        val partition = resp.getInt
        val leader = resp.getInt
        val nr = resp.getInt; (0 until nr).foreach(_ => resp.getInt)
        val ni = resp.getInt; (0 until ni).foreach(_ => resp.getInt)
        // health is judged per ROUTED partition in publish, not here
        ((topic, partition) -> leader, (topic, partition) -> perr)
      }
      require(err == 0, s"metadata error $err for topic $topic")
      (topic -> nParts, parts)
    }
    ClusterMeta(brokers, perTopic.map(_._1).toMap,
      perTopic.flatMap(_._2.map(_._1)).toMap,
      perTopic.flatMap(_._2.map(_._2)).toMap)
  }

  // ----------------------------------------------------- produce v3

  /** One Produce v3 round trip for pre-encoded batches; returns
    * (topic, partition) → baseOffset and throws on any partition
    * error (at-least-once: the caller's batch replays).
    */
  private def produce(out: DataOutputStream, in: DataInputStream,
      clientId: String, corrId: Int,
      batches: Map[(String, Int), Array[Byte]],
      timeoutMs: Int): Map[(String, Int), Long] = {
    val byTopic = batches.toSeq.groupBy(_._1._1).toSeq.sortBy(_._1)
    val bodySize = 2 + 2 + 4 + 4 + byTopic.map { case (t, ps) =>
      strLen(t) + 4 + ps.map(4 + 4 + _._2.length).sum
    }.sum
    val body = ByteBuffer.allocate(bodySize)
    putNullableString(body, None) // transactional_id
    body.putShort(-1)             // acks: full ISR
    body.putInt(timeoutMs)
    body.putInt(byTopic.size)
    byTopic.foreach { case (t, ps) =>
      putString(body, t)
      body.putInt(ps.size)
      ps.foreach { case ((_, p), batch) =>
        body.putInt(p); body.putInt(batch.length); body.put(batch)
      }
    }
    val resp = exchange(out, in,
      framed(0, 3, corrId, clientId, body), corrId)
    val nTopics = resp.getInt
    val offsets = (0 until nTopics).flatMap { _ =>
      val topic = readString(resp)
      val nParts = resp.getInt
      (0 until nParts).map { _ =>
        val partition = resp.getInt
        val err = resp.getShort
        val baseOffset = resp.getLong
        resp.getLong // log_append_time
        if (err != 0) {
          val msg = s"produce error $err on $topic/$partition"
          // stale-leader codes are cured by a fresh-metadata redial
          // (the caller retries once); anything else fails the batch
          // loud (at-least-once: the epoch replays)
          if (RetriableProduceErrors(err))
            throw new RetriableProduceError(msg)
          else throw new IllegalArgumentException(msg)
        }
        (topic, partition) -> baseOffset
      }
    }.toMap
    resp.getInt // throttle_time_ms
    offsets
  }

  // ------------------------------------------------------ public API

  /** Publish records via the cluster reachable at bootstrap
    * `host:port` — one Metadata v1 exchange on the bootstrap
    * connection, then one record batch per (topic, murmur2 partition)
    * LEADER-ROUTED: batches group by their partition's leader node and
    * each leader gets one connection and one Produce v3 (the bootstrap
    * connection is reused when it IS the leader's advertised address).
    * A topic the Metadata response omits fails fast — silently
    * assuming one partition would pin records to partition 0 and break
    * DefaultPartitioner placement (advice r15). Returns (topic,
    * partition) → baseOffset as acked by the leaders.
    */
  def publish(host: String, port: Int, records: Seq[Record],
      clientId: String = "graft-wire",
      timeoutMs: Int = 30000): Map[(String, Int), Long] = {
    if (records.isEmpty) return Map.empty
    val topics = records.map(_.topic).distinct
    def attempt(): Map[(String, Int), Long] = {
      // fresh metadata on the POOLED bootstrap connection — no dial
      // on the steady path; a broken pooled socket re-dials inside
      // the pool
      val meta = ConnPool.withConn(host, port)(c =>
        clusterMeta(c.out, c.in, clientId, topics, c.nextCorr()))
      topics.foreach { t =>
        require(meta.partitions.contains(t),
          s"metadata response omits topic '$t' — cannot place records " +
            "(auto-creation pending? retry; at-least-once: the batch " +
            "replays)")
        require(meta.partitions(t) > 0,
          s"topic '$t' reports 0 partitions — creation in progress? " +
            "retry")
      }
      // groupBy keeps each group's records in input order, so one
      // partition's batch holds its records in log order
      val batches = records
        .groupBy(r => (r.topic, partitionFor(r.key, meta.partitions(r.topic))))
        .map { case (tp, rs) => tp -> encodeRecordBatch(rs) }
      // leader/error checks for exactly the partitions this call
      // ROUTES batches to (advice r16): a non-fatal code on a routed
      // partition (replica offline, leader fine) is tolerated like a
      // stock producer does; a leaderless or hard-errored routed
      // partition fails loud (at-least-once: the batch replays); an
      // unhealthy partition receiving no records is irrelevant
      batches.keys.foreach { case tp @ (t, p) =>
        val perr = meta.partErrors.getOrElse(tp, 0: Short)
        val leader = meta.leaders.getOrElse(tp, -1)
        require(perr == 0 || (NonFatalPartErrors(perr) && leader >= 0),
          s"metadata error $perr for routed partition $t/$p")
        require(leader >= 0,
          s"no elected leader for routed partition $t/$p — retry " +
            "after leader election (at-least-once: the batch replays)")
      }
      // route each batch to its partition's leader; one POOLED
      // connection + one Produce per leader (corrIds are
      // per-connection; the bootstrap connection is shared when it
      // leads)
      val byLeader = batches.groupBy { case (tp, _) => meta.leaders(tp) }
      byLeader.toSeq.sortBy(_._1).flatMap { case (leader, lb) =>
        val (lh, lp) = meta.brokers.getOrElse(leader,
          throw new IllegalArgumentException(
            s"metadata names leader $leader but lists no such broker"))
        ConnPool.withConn(lh, lp)(c =>
          produce(c.out, c.in, clientId, c.nextCorr(), lb, timeoutMs))
      }.toMap
    }
    try attempt()
    catch {
      // stale leadership or a dead pooled socket: the failing
      // connection was invalidated by the pool — ONE retry through
      // fresh metadata re-dials the (possibly moved) leaders.
      // At-least-once: leaders that already acked this attempt's
      // batches see them again on the retry, exactly like a replayed
      // epoch. Anything non-retriable (hard produce error, metadata
      // require) propagates — the stream's own replay handles it.
      case _: RetriableProduceError | _: java.io.IOException => attempt()
    }
  }

  /** Publish a [[Sink.kafkaFrame]]-shaped frame ((key, value, topic)
    * rows) from the EXECUTORS, every record stamped `timestampMs`.
    */
  def publishFrame(frame: DataFrame, brokers: String,
      timestampMs: Long): Unit =
    publishFrame(frame, brokers, lit(timestampMs))

  /** Publish a [[Sink.kafkaFrame]]-shaped frame ((key, value, topic)
    * rows) from the EXECUTORS: each partition task ships its own rows
    * over its executor's pooled connections — no driver funnel. Each
    * record's CreateTime is `timestamp` (epoch ms, a long column)
    * evaluated on its own row, in the same projection as key, value
    * and topic.
    */
  def publishFrame(frame: DataFrame, brokers: String,
      timestamp: Column): Unit = {
    val (host, port) = hostPort(brokers)
    frame.select(col("key"), col("value"), col("topic"), timestamp)
      .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
        val recs = rows.map(r => Record(r.getAs[Array[Byte]](0),
          r.getAs[Array[Byte]](1), r.getString(2), r.getLong(3))).toSeq
        if (recs.nonEmpty) { publish(host, port, recs); () }
      }
  }

  private def hostPort(brokers: String): (String, Int) = {
    val first = brokers.split(",").head.trim
    val i = first.lastIndexOf(':')
    require(i > 0, s"broker must be host:port, got '$brokers'")
    (first.take(i), first.drop(i + 1).toInt)
  }

  /** The [[Sink.kafkaSink]] twin that needs NO connector jar: the
    * same integration gate (`SPARK_GRAFT_KAFKA_BROKERS`), the same
    * [[Sink.kafkaFrame]] record contract, published per micro-batch
    * through [[publishFrame]] as ONE Spark job: the frame is
    * coalesced, without a shuffle, into one task that publishes the
    * trigger's slices in log order. At-least-once: a replayed epoch
    * re-publishes its records (Kafka consumers dedup on (key, offset)
    * or idempotent reads downstream), matching the reference's relay
    * semantics. Each record's CreateTime is its own change's event
    * time, [[createTime]], as Debezium's `ts_ms` is — a REAL clock
    * value (review r15: the epoch number stamped ~1970 timestamps,
    * which a stock broker's time-based retention would delete
    * immediately), and a pure function of its row, so replays stay
    * byte-identical.
    */
  def wireSink(changes: DataFrame, checkpointDir: String,
      brokers: Option[String] = sys.env.get("SPARK_GRAFT_KAFKA_BROKERS"),
      topic: Column = Routing.topicByTable(),
      transform: Transform = Transforms.DebeziumEnvelope)
      : Option[StreamingQuery] =
    brokers.map { bs =>
      changes.writeStream
        .option("checkpointLocation", checkpointDir)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          // no emptiness probe and no stamp aggregate (a job each per
          // trigger): an empty batch publishes nothing, since
          // publishFrame skips empty partitions
          val frame = Sink.kafkaFrame(batch, topic, transform, Some(createTime))
          publishFrame(frame.coalesce(1), bs, col("timestamp"))
        }
        .start()
    }

  /** A change's CreateTime: its event time in epoch ms. A null `ts`
    * has no event time and stamps epoch 0 instead of failing the
    * micro-batch on every replay (advice r15).
    */
  private[graft] def createTime: Column =
    coalesce(unix_millis(col("ts")), lit(0L))

  /** One stamp for a whole batch: its max change event time, epoch 0
    * when every `ts` is null. An aggregate job of its own; the only
    * caller outside the specs is perfbench's traced `live_tail` path,
    * which re-implements [[wireSink]]'s batch body.
    */
  private[graft] def batchCreateTime(batch: DataFrame): Long = {
    val r = batch.agg(max(unix_millis(col("ts")))).head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }
}
