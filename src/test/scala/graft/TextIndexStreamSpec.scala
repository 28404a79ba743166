package graft

import java.nio.file.Files

import scala.collection.JavaConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops._
import graft.streaming.{TextIndexStream, TrilogyStream}

/** Streaming maintenance of the persisted text index: micro-batched
  * ingest/takedown (+ at-least-once replays) serve the EXACT ranking
  * a one-shot batch build over the same corpus produces — the
  * additive-stats law under the streaming delivery contract.
  */
class TextIndexStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private def docs = cdc.Io.table(spark, sf, "documents")

  private def searchOf(name: String) =
    TextIndex.search(spark, name, k = 10)
      .as[(Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq

  private def inPlan(corpus: org.apache.spark.sql.DataFrame) =
    Retrieval.bm25TopK(corpus, "doc_id", "text", k = 10)
      .as[(Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq

  test("micro-batched ingest + a replay serve the one-shot build's ranking") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("tidxs_app").toString
    val rows = docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    val (seed, rest) = rows.splitAt(rows.length / 4)
    TextIndex.build(spark, seed.toDF("doc_id", "text"), "doc_id",
      "text", "tidxs_app", nBuckets = 4, baseDir = Some(dir))

    val ckpt = Files.createTempDirectory("tidxs_app_ckpt").toString
    val input = MemoryStream[(Long, String)]
    val q = TextIndexStream.maintain(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text",
      "tidxs_app", ckpt)
    val (b1, b2) = rest.splitAt(rest.length / 2)
    input.addData(b1: _*); q.processAllAvailable()
    input.addData(b2: _*); q.processAllAvailable()
    input.addData(b1.take(20): _*); q.processAllAvailable() // replay
    q.stop()

    val got = searchOf("tidxs_app")
    assert(got.nonEmpty && got == inPlan(docs))
  }

  test("micro-batched takedown + a replay serve the survivor build's ranking") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("tidxs_del").toString
    TextIndex.build(spark, docs, "doc_id", "text", "tidxs_del",
      nBuckets = 4, baseDir = Some(dir))
    val delRows = docs.filter(col("doc_id") % 3 === 0)
      .select(col("doc_id").cast("long")).as[Long].collect().sorted.toSeq

    val ckpt = Files.createTempDirectory("tidxs_del_ckpt").toString
    val input = MemoryStream[Long]
    val q = TextIndexStream.retract(input.toDF().toDF("doc_id"),
      "doc_id", "tidxs_del", ckpt)
    val (b1, b2) = delRows.splitAt(delRows.length / 2)
    input.addData(b1: _*); q.processAllAvailable()
    input.addData(b2: _*); q.processAllAvailable()
    input.addData(b2.take(10): _*); q.processAllAvailable() // replay
    q.stop()

    val got = searchOf("tidxs_del")
    assert(got.nonEmpty &&
      got == inPlan(docs.filter(col("doc_id") % 3 =!= 0)))
  }

  test("streaming maintenance of a POSITIONAL index: phrase serving equals the one-shot build (ingest + takedown + replays)") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("tidxs_pos").toString
    val rows = docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    val (seed, rest) = rows.splitAt(rows.length / 2)
    TextIndex.build(spark, seed.toDF("doc_id", "text"), "doc_id",
      "text", "tidxs_pos", nBuckets = 4, baseDir = Some(dir),
      positions = true)

    val ckpt = Files.createTempDirectory("tidxs_pos_ckpt").toString
    val input = MemoryStream[(Long, String)]
    val q = TextIndexStream.maintain(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text",
      "tidxs_pos", ckpt)
    input.addData(rest: _*); q.processAllAvailable()
    input.addData(rest.take(15): _*); q.processAllAvailable() // replay
    q.stop()

    val ckptD = Files.createTempDirectory("tidxs_posd_ckpt").toString
    val delRows = rows.map(_._1).filter(_ % 3 == 0)
    val inputD = MemoryStream[Long]
    val qd = TextIndexStream.retract(inputD.toDF().toDF("doc_id"),
      "doc_id", "tidxs_pos", ckptD)
    inputD.addData(delRows: _*); qd.processAllAvailable()
    inputD.addData(delRows.take(10): _*); qd.processAllAvailable()
    qd.stop()

    val survivors = docs.filter(col("doc_id") % 3 =!= 0)
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Long)].collect()
        .sortBy(r => (r._1, r._2)).toSeq
    assert(sorted(TextIndex.searchPhrase(spark, "tidxs_pos", k = 10)) ==
      sorted(Retrieval.phraseTopK(survivors, "doc_id", "text", k = 10)))
    assert(sorted(TextIndex.searchNear(spark, "tidxs_pos", k = 10)) ==
      sorted(Retrieval.nearTopK(survivors, "doc_id", "text", k = 10)))
    assert(searchOf("tidxs_pos") == inPlan(survivors))
  }

  test("a replacement stream with a FRESH checkpoint is not deduped against the retired stream's epochs (review r14)") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("tidxs_ns").toString
    val rows = docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    val (seed, rest) = rows.splitAt(rows.length / 2)
    val (b1, b2) = rest.splitAt(rest.length / 2)
    TextIndex.build(spark, seed.toDF("doc_id", "text"), "doc_id",
      "text", "tidxs_ns", nBuckets = 4, baseDir = Some(dir))
    // stream A ingests b1 as ITS epoch 0+, then retires
    val ckA = Files.createTempDirectory("tidxs_ns_ckA").toString
    val inA = MemoryStream[(Long, String)]
    val qA = TextIndexStream.maintain(inA.toDF().toDF("doc_id", "text"),
      "doc_id", "text", "tidxs_ns", ckA)
    inA.addData(b1: _*); qA.processAllAvailable(); qA.stop()
    // replacement stream B (new checkpoint): its epoch numbering
    // restarts at 0 — bare-epoch markers would silently skip b2
    val ckB = Files.createTempDirectory("tidxs_ns_ckB").toString
    val inB = MemoryStream[(Long, String)]
    val qB = TextIndexStream.maintain(inB.toDF().toDF("doc_id", "text"),
      "doc_id", "text", "tidxs_ns", ckB)
    inB.addData(b2: _*); qB.processAllAvailable(); qB.stop()
    assert(searchOf("tidxs_ns") == inPlan(docs))
  }

  test("CDC feed (X156): micro-batched upserts + tombstones (+ a replay) serve the LWW-merged corpus's ranking") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("tidxs_cdc").toString
    val rows = docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    TextIndex.build(spark, rows.toDF("doc_id", "text"), "doc_id",
      "text", "tidxs_cdc", nBuckets = 4, baseDir = Some(dir))

    // the change log, in commit order: every %3==0 key gets an upsert
    // with NEW text, every %5==1 key a tombstone; key -1 and -2 are
    // inserts of brand-new docs; key 6 is upserted TWICE in one batch
    // (the within-batch LWW must keep only the later edit) and once
    // more in a later batch (cross-batch log order must win)
    def change(key: Long, op: String, text: String, seq: Long) =
      (key, op, text, 100L + seq, seq)
    val ups = rows.map(_._1).filter(_ % 3 == 0).map(k =>
      change(k, cdc.ChangeOp.Update, s"fresh vector scan doc $k", k))
    val dels = rows.map(_._1).filter(_ % 5 == 1).map(k =>
      change(k, cdc.ChangeOp.Delete, "", 1000 + k))
    val news = Seq(change(-1L, cdc.ChangeOp.Insert,
      "brand new hash join doc", 2000),
      change(-2L, cdc.ChangeOp.Insert, "another vector doc", 2001))
    val dupA = change(6L, cdc.ChangeOp.Update, "stale edit six", 3000)
    val dupB = change(6L, cdc.ChangeOp.Update, "final edit six spark", 3001)
    val late = change(9L, cdc.ChangeOp.Update, "late nine window", 4000)

    val ckpt = Files.createTempDirectory("tidxs_cdc_ckpt").toString
    val input = MemoryStream[(Long, String, String, Long, Long)]
    val q = TrilogyStream.applyChanges(
      input.toDF().toDF("doc_id", "op", "text", "ts_sec", "seq"),
      "doc_id", "op", Seq(TrilogyStream.Text("tidxs_cdc", "text")), ckpt)
    input.addData((ups ++ dels :+ dupA :+ dupB): _*)
    q.processAllAvailable()
    input.addData((news :+ late): _*); q.processAllAvailable()
    input.addData(news.take(1): _*); q.processAllAvailable() // replay
    q.stop()

    // the LWW-merged expected corpus, computed independently: per key
    // the (ts, seq)-max change wins (key 6's tombstone loses to its
    // later same-batch edit; key 21's upsert loses to its tombstone)
    val allChanges = ups ++ dels ++ news ++ Seq(dupA, dupB, late)
    val winnerByKey = allChanges.groupBy(_._1).map { case (k, cs) =>
      k -> cs.maxBy(c => (c._4, c._5))
    }
    val mergedRows = (rows.toMap ++
        winnerByKey.collect { case (k, w)
          if w._2 != cdc.ChangeOp.Delete => k -> w._3 })
      .filterNot { case (k, _) =>
        winnerByKey.get(k).exists(_._2 == cdc.ChangeOp.Delete) }
      .toSeq.sortBy(_._1)
    val got = searchOf("tidxs_cdc")
    assert(got.nonEmpty &&
      got == inPlan(mergedRows.toDF("doc_id", "text")))
  }

  test("end-to-end: the DSv2 change-log stream maintains the index — snapshot segment + live segment serve the merged corpus's ranking") {
    // the reference's snapshot-then-stream shape on the RETRIEVAL
    // artifact: log segment 1 is the backfill (op=Backfill, ts=1
    // placeholder), segment 2 the live tail (edit, tombstone,
    // insert) — read through the real DSv2 source, applied through
    // applyChanges, served from the maintained index.
    val logDir = Files.createTempDirectory("tidx_cl").toString
    def row(id: Int, text: String) = s"""{"id":"$id","text":"$text"}"""
    def line(op: String, before: String, after: String, ts: Long) =
      s"""{"op":"$op","db":"d","table":"docs","before":$before,"after":$after,"ts":$ts,"pkey":"id"}"""
    val snap = Map(1 -> "hash join merge", 2 -> "spark window agg",
      3 -> "dup vector scan", 4 -> "fast query scan",
      5 -> "big order scan", 6 -> "data slow query")
    Files.write(java.nio.file.Paths.get(logDir, "log.000001.jsonl"),
      snap.toSeq.sortBy(_._1)
        .map { case (i, t) => line("Backfill", "null", row(i, t), 1L) }
        .mkString("", "\n", "\n").getBytes)
    Files.write(java.nio.file.Paths.get(logDir, "log.000002.jsonl"),
      Seq(
        line("Update", row(2, snap(2)), row(2, "fresh spark vector text"), 100L),
        line("Delete", row(3, snap(3)), "null", 101L),
        line("Insert", "null", row(9, "brand new hash doc"), 102L))
        .mkString("", "\n", "\n").getBytes)

    val dir = Files.createTempDirectory("tidx_cl_idx").toString
    TextIndex.build(spark, Seq.empty[(Long, String)].toDF("doc_id", "text"),
      "doc_id", "text", "tidx_cl", nBuckets = 4, baseDir = Some(dir))

    val changes = spark.readStream.format("graft-changelog")
      .option("path", logDir).load()
    val docsStream = changes.select(
      coalesce(get_json_object(col("after"), "$.id"),
        get_json_object(col("before"), "$.id")).cast("long").as("doc_id"),
      col("op"),
      coalesce(get_json_object(col("after"), "$.text"), lit("")).as("text"),
      unix_timestamp(col("ts")).as("ts_sec"), col("seq"))
    val ckpt = Files.createTempDirectory("tidx_cl_ckpt").toString
    val q = TrilogyStream.applyChanges(docsStream, "doc_id", "op",
      Seq(TrilogyStream.Text("tidx_cl", "text")), ckpt)
    q.processAllAvailable()
    q.stop()

    val merged = (snap - 3 + (2 -> "fresh spark vector text") +
      (9 -> "brand new hash doc"))
      .toSeq.map { case (i, t) => (i.toLong, t) }.sortBy(_._1)
    val got = searchOf("tidx_cl")
    assert(got.nonEmpty && got == inPlan(merged.toDF("doc_id", "text")))
  }

  test("autoCompactFiles keeps a long micro-batch run's file count bounded; serving stays the one-shot build's") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("tidxs_ac").toString
    val rows = docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    val (seed, rest) = rows.splitAt(10)
    TextIndex.build(spark, seed.toDF("doc_id", "text"), "doc_id",
      "text", "tidxs_ac", nBuckets = 4, baseDir = Some(dir))

    val ckpt = Files.createTempDirectory("tidxs_ac_ckpt").toString
    val input = MemoryStream[(Long, String)]
    val q = TextIndexStream.maintain(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text",
      "tidxs_ac", ckpt, autoCompactFiles = Some(8))
    // 8 single-doc epochs: without the policy, postings would accrete
    // a delta file set per epoch; with it, every over-threshold check
    // compacts back to ≤ one file per bucket
    rest.take(8).foreach { r =>
      input.addData(r); q.processAllAvailable()
    }
    q.stop()

    val idx = s"$dir/tidxs_ac"
    val maxFiles = Generations.load(idx).get.current.values.flatten.map { d =>
      Files.list(java.nio.file.Paths.get(idx, d)).iterator().asScala
        .count { f =>
          val n = f.getFileName.toString
          !n.startsWith("_") && !n.startsWith(".")
        }
    }.max
    assert(maxFiles <= 8, s"file count unbounded: $maxFiles")
    assert(searchOf("tidxs_ac") ==
      inPlan((seed ++ rest.take(8)).toDF("doc_id", "text")))
  }
}
