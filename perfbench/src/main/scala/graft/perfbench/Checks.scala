package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8

/** The benchmark's own reference computations. Each is written apart
  * from the program (no call into `graft.*` outside this package), so a
  * fault in the program cannot hide by also being in its checker.
  * [[selfTest]] feeds every checker a corrupted output and requires it
  * to fail, so no correctness gate can pass vacuously.
  */
object Checks {

  // ------------------------------------------------ Kafka murmur2

  /** Kafka's DefaultPartitioner hash (murmur2, seed 0x9747b28c). */
  def murmur2(data: Array[Byte]): Int = {
    val m = 0x5bd1e995
    var h = 0x9747b28c ^ data.length
    val n4 = data.length / 4
    for (i <- 0 until n4) {
      var k = (data(4 * i) & 0xff) | ((data(4 * i + 1) & 0xff) << 8) |
        ((data(4 * i + 2) & 0xff) << 16) | ((data(4 * i + 3) & 0xff) << 24)
      k *= m; k ^= k >>> 24; k *= m
      h *= m; h ^= k
    }
    val t = n4 * 4
    data.length % 4 match {
      case 3 =>
        h ^= (data(t + 2) & 0xff) << 16; h ^= (data(t + 1) & 0xff) << 8
        h ^= data(t) & 0xff; h *= m
      case 2 => h ^= (data(t + 1) & 0xff) << 8; h ^= data(t) & 0xff; h *= m
      case 1 => h ^= data(t) & 0xff; h *= m
      case _ =>
    }
    h ^= h >>> 13; h *= m; h ^= h >>> 15
    h
  }

  def partitionOf(key: String, partitions: Int): Int =
    (murmur2(key.getBytes(UTF_8)) & 0x7fffffff) % partitions

  // ----------------------------------------- payload rendering

  def jsonString(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < 0x20 => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  def jsonObject(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => jsonString(k) + ":" + jsonString(v) }
      .mkString("{", ",", "}")

  /** The BigQuery-CDC wire payload of one change: the row image the
    * change carries (`before` for a delete, else `after`) with every
    * value in its MySQL text form, then `_CHANGE_TYPE` and `tenant`.
    */
  def bigQueryPayload(op: String, db: String,
      image: Seq[(String, String)]): String =
    jsonObject(image ++ Seq(
      "_CHANGE_TYPE" -> (if (op == "Delete") "DELETE" else "UPSERT"),
      "tenant" -> db))

  /** Multiset difference: how many of `expected` have no equal partner
    * in `actual`, and how many of `actual` have none in `expected`.
    */
  def unmatched[A](expected: Iterable[A], actual: Iterable[A]): (Long, Long) = {
    val left = scala.collection.mutable.HashMap.empty[A, Long]
    expected.foreach(a => left.update(a, left.getOrElse(a, 0L) + 1))
    var extra = 0L
    actual.foreach { a =>
      left.get(a) match {
        case Some(n) if n > 0 => left.update(a, n - 1)
        case _ => extra += 1
      }
    }
    (left.values.sum, extra)
  }

  // ------------------------------------------------------ LWW fold

  /** One keyed change as the merge sees it. */
  final case class Rec(key: String, op: String, ts: Long, precedence: Int,
      seq: Long, payload: String)

  /** Last-writer-wins per key under (ts desc, live over backfill, seq
    * desc); deletes stay as tombstones.
    */
  def lwwFold(recs: Iterator[Rec]): Map[String, Rec] = {
    import scala.math.Ordering.Implicits._
    val m = scala.collection.mutable.HashMap.empty[String, Rec]
    recs.foreach { r =>
      m.get(r.key) match {
        case Some(w) if (w.ts, w.precedence, w.seq) >= ((r.ts, r.precedence, r.seq)) =>
        case _ => m.update(r.key, r)
      }
    }
    m.toMap
  }

  /** Keys whose final output differs from the fold (missing keys
    * included), plus output keys the fold does not know.
    */
  def lwwMismatches(expected: Map[String, Rec],
      actual: Map[String, Rec]): Set[String] =
    expected.keySet.filter(k => !actual.get(k).contains(expected(k))) ++
      (actual.keySet -- expected.keySet)

  // ------------------------------------------------ live-tail check

  /** What the generator wrote for one live event. */
  final case class LiveEvent(n: Long, db: String, table: String, op: String)

  /** What the broker saw for one record. */
  final case class Arrival(topic: String, partition: Int, key: String,
      op: String, n: Long)

  val DebeziumOp = Map("Insert" -> "c", "Backfill" -> "c", "Update" -> "u",
    "Delete" -> "d")

  /** Events that did not arrive exactly once on `prefix + table`, in
    * partition murmur2(db.table) mod `partitions`, with their Debezium
    * op.
    */
  def liveFailures(events: Seq[LiveEvent], arrivals: Iterable[Arrival],
      prefix: String, partitions: Int): Set[Long] = {
    val byN = arrivals.groupBy(_.n)
    events.filterNot { e =>
      val key = s"${e.db}.${e.table}"
      byN.get(e.n).exists(as => as.size == 1 && as.head == Arrival(
        prefix + e.table, partitionOf(key, partitions), key,
        DebeziumOp(e.op), e.n))
    }.map(_.n).toSet
  }

  // ---------------------------------------------------- self-test

  /** Runs every checker on a known-good and a corrupted output; returns
    * the names of the checks that misbehaved (empty when all hold).
    */
  def selfTest(): Seq[String] = {
    val bad = Seq.newBuilder[String]
    def expect(name: String, cond: Boolean): Unit = if (!cond) bad += name

    // murmur2 against Kafka's published test vectors
    val vectors = Seq("21" -> -973932308, "foobar" -> -790332482,
      "a-little-bit-long-string" -> -985981536,
      "a-little-bit-longer-string" -> -1486304829,
      "lkjh234lh9fiuh90y23oiuhsafujhadof229phr9h19h89h8" -> -58897971,
      "abc" -> 479470107)
    vectors.foreach { case (s, h) =>
      expect(s"murmur2($s)", murmur2(s.getBytes(UTF_8)) == h)
    }
    val evs = Seq(LiveEvent(1, "live", "t0", "Insert"),
      LiveEvent(2, "live", "t1", "Update"), LiveEvent(3, "live", "t2", "Delete"))
    val good = evs.map(e => Arrival("p." + e.table,
      partitionOf(s"${e.db}.${e.table}", 3), s"${e.db}.${e.table}",
      DebeziumOp(e.op), e.n))
    expect("live: good output passes", liveFailures(evs, good, "p.", 3).isEmpty)
    val wrongPart = good.updated(0, good(0).copy(partition = (good(0).partition + 1) % 3))
    expect("live: wrong partition fails", liveFailures(evs, wrongPart, "p.", 3) == Set(1L))
    val wrongOp = good.updated(2, good(2).copy(op = "u"))
    expect("live: wrong op fails", liveFailures(evs, wrongOp, "p.", 3) == Set(3L))
    expect("live: missing event fails", liveFailures(evs, good.tail, "p.", 3) == Set(1L))
    expect("live: duplicate fails", liveFailures(evs, good :+ good(1), "p.", 3) == Set(2L))

    // payload renderer against a hand-written literal
    val img = Seq("c0" -> "7", "c1" -> "-9", "c2" -> "a \"q\"", "c3" -> "-0.05",
      "c4" -> "2021-03-04 05:06:07")
    val want = """{"c0":"7","c1":"-9","c2":"a \"q\"","c3":"-0.05",""" +
      """"c4":"2021-03-04 05:06:07","_CHANGE_TYPE":"DELETE","tenant":"shop"}"""
    expect("payload: renders the literal", bigQueryPayload("Delete", "shop", img) == want)
    val exp = Seq(("t", want), ("t", bigQueryPayload("Insert", "shop", img)))
    expect("drain: good output passes", unmatched(exp, exp.reverse) == ((0L, 0L)))
    val tenantWrong = exp.updated(0, ("t", want.replace("\"shop\"", "\"crm\"")))
    expect("drain: wrong tenant fails", unmatched(exp, tenantWrong) == ((1L, 1L)))
    expect("drain: lost row fails", unmatched(exp, exp.tail)._1 == 1L)
    expect("drain: duplicate row fails", unmatched(exp, exp :+ exp(0))._2 == 1L)

    // the fold: live beats backfill at equal ts, then seq, deletes stay
    val log = Seq(
      Rec("k1", "Backfill", 100, 0, 5, "snap1"),
      Rec("k1", "Update", 100, 1, 3, "live1"),
      Rec("k2", "Update", 101, 1, 1, "a"), Rec("k2", "Update", 101, 1, 2, "b"),
      Rec("k3", "Insert", 102, 1, 1, "x"), Rec("k3", "Delete", 103, 1, 2, ""),
      Rec("k3", "Backfill", 100, 0, 9, "ghost"))
    val f = lwwFold(log.iterator)
    expect("fold: live over backfill", f("k1").payload == "live1")
    expect("fold: seq breaks ts ties", f("k2").payload == "b")
    expect("fold: tombstone beats stale backfill", f("k3").op == "Delete")
    expect("fold: order-independent", lwwFold(log.reverseIterator) == f)
    expect("lww: good output passes", lwwMismatches(f, f).isEmpty)
    expect("lww: backfill winner fails",
      lwwMismatches(f, f.updated("k1", log(0))) == Set("k1"))
    expect("lww: lost tombstone fails", lwwMismatches(f, f - "k3") == Set("k3"))
    expect("lww: stray key fails",
      lwwMismatches(f, f.updated("k9", log(0))) == Set("k9"))
    bad.result()
  }
}
