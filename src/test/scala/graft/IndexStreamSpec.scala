package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Index
import graft.streaming.{IndexStream, TrilogyStream}

/** Streaming ANN probe == batch index search: vectors arriving over
  * several micro-batches score identically to one batch
  * [[Index.search]] over the same query set.
  */
class IndexStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("MemoryStream probes equal the batch search, across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val embs = cdc.Io.table(spark, sf, "embeddings")
    Index.build(spark, embs, "vec_id", "embedding", "label", "idx_str",
      itersIvf = 2, massign = 2, m = 16, ksub = 32, itersPq = 1,
      nBuckets = 4,
      baseDir = Some(Files.createTempDirectory("graft_idx_str").toString))

    // probe vectors = 4 corpus rows, fed in TWO micro-batches — the
    // self-exclusion and ranking must match the batch predicate search
    val probeRows = embs.filter(col("vec_id") < 4)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().sortBy(_._1)

    val outDir = Files.createTempDirectory("idx_str_out").toString
    val ckpt = Files.createTempDirectory("idx_str_ckpt").toString
    val input = MemoryStream[(Long, Seq[Double])]
    val q = IndexStream.probe(input.toDF().toDF("vec_id", "embedding"),
      embs, "vec_id", "embedding", "idx_str", k = 3, nprobe = 3,
      rerank = 20, outDir, ckpt)
    input.addData(probeRows.take(2).toSeq: _*)
    q.processAllAvailable()
    input.addData(probeRows.drop(2).toSeq: _*)
    q.processAllAvailable()
    q.stop()

    val streamed = spark.read.parquet(outDir)
      .orderBy("qid", "rank")
      .as[(Long, Long, Long, Long)].collect().toSeq
    val batch = Index.search(spark, "idx_str", embs, "vec_id", "embedding",
        col("vec_id") < 4, k = 3, nprobe = 3, rerank = 20)
      .orderBy("qid", "rank")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("MemoryStream SQ-tier probes equal the batch searchSq, across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val embs = cdc.Io.table(spark, sf, "embeddings")
    Index.build(spark, embs, "vec_id", "embedding", "label", "idx_strsq",
      itersIvf = 2, massign = 2, m = 16, ksub = 32, itersPq = 1,
      nBuckets = 4,
      baseDir = Some(Files.createTempDirectory("graft_idx_strsq").toString))
    val probeRows = embs.filter(col("vec_id") < 4)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().sortBy(_._1)

    val outDir = Files.createTempDirectory("idx_strsq_out").toString
    val ckpt = Files.createTempDirectory("idx_strsq_ckpt").toString
    val input = MemoryStream[(Long, Seq[Double])]
    val q = IndexStream.probeSq(input.toDF().toDF("vec_id", "embedding"),
      embs, "vec_id", "embedding", "idx_strsq", k = 3, nprobe = 3,
      rerank = 20, outDir, ckpt)
    input.addData(probeRows.take(2).toSeq: _*)
    q.processAllAvailable()
    input.addData(probeRows.drop(2).toSeq: _*)
    q.processAllAvailable()
    q.stop()

    val streamed = spark.read.parquet(outDir)
      .orderBy("qid", "rank")
      .as[(Long, Long, Long, Long)].collect().toSeq
    val batch = Index.searchSq(spark, "idx_strsq", embs, "vec_id",
        "embedding", col("vec_id") < 4, k = 3, nprobe = 3, rerank = 20)
      .orderBy("qid", "rank")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("MemoryStream BQ-tier probes equal the batch searchBq, across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val embs = cdc.Io.table(spark, sf, "embeddings")
    Index.build(spark, embs, "vec_id", "embedding", "label", "idx_strbq",
      itersIvf = 2, massign = 2, m = 16, ksub = 32, itersPq = 1,
      nBuckets = 4,
      baseDir = Some(Files.createTempDirectory("graft_idx_strbq").toString))
    val probeRows = embs.filter(col("vec_id") < 4)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().sortBy(_._1)

    val outDir = Files.createTempDirectory("idx_strbq_out").toString
    val ckpt = Files.createTempDirectory("idx_strbq_ckpt").toString
    val input = MemoryStream[(Long, Seq[Double])]
    val q = IndexStream.probeBq(input.toDF().toDF("vec_id", "embedding"),
      embs, "vec_id", "embedding", "idx_strbq", k = 3,
      rerank = 20, outDir, ckpt)
    input.addData(probeRows.take(2).toSeq: _*)
    q.processAllAvailable()
    input.addData(probeRows.drop(2).toSeq: _*)
    q.processAllAvailable()
    q.stop()

    val streamed = spark.read.parquet(outDir)
      .orderBy("qid", "rank")
      .as[(Long, Long, Long, Long)].collect().toSeq
    val batch = Index.searchBq(spark, "idx_strbq", embs, "vec_id",
        "embedding", col("vec_id") < 4, k = 3, rerank = 20)
      .orderBy("qid", "rank")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streaming maintenance: appended micro-batches equal one batch append") {
    implicit val sqlCtx = spark.sqlContext
    val embs = cdc.Io.table(spark, sf, "embeddings")
    val half1 = embs.filter(col("vec_id") % 2 === 0)
    val half2rows = embs.filter(col("vec_id") % 2 === 1)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().sortBy(_._1)

    Index.build(spark, half1, "vec_id", "embedding", "label", "idx_mnt",
      itersIvf = 1, massign = 2, m = 16, ksub = 32, itersPq = 1,
      nBuckets = 4,
      baseDir = Some(Files.createTempDirectory("graft_idx_mnt").toString))

    val ckpt = Files.createTempDirectory("idx_mnt_ckpt").toString
    val input = MemoryStream[(Long, Seq[Double])]
    val q = IndexStream.maintain(input.toDF().toDF("vec_id", "embedding"),
      "vec_id", "embedding", "idx_mnt", ckpt)
    val (b1, b2) = half2rows.splitAt(half2rows.length / 2)
    input.addData(b1.toSeq: _*); q.processAllAvailable()
    input.addData(b2.toSeq: _*); q.processAllAvailable()
    q.stop()

    // the maintained tables equal one encode of the FULL corpus at the
    // stored centroids (build half + streamed half = everything)
    val (expPost, expCodes, _, _) = Index.encode(spark, "idx_mnt", embs,
      "vec_id", "embedding")
    assert(spark.table("idx_mnt_postings").as[(Long, Long)].collect().sorted.toSeq
      == expPost.select(col("cl").cast("long"), col("id")).as[(Long, Long)]
        .collect().sorted.toSeq)
    assert(spark.table("idx_mnt_codes").as[(Long, Int, Long)].collect().sorted.toSeq
      == expCodes.select(col("id"), col("m"), col("cl").cast("long"))
        .as[(Long, Int, Long)].collect().sorted.toSeq)

    // at-least-once tolerance: a REPLAYED batch (duplicate append) must
    // not change search results — the ADC dedups code rows per
    // candidate, and candidate pairs are distinct already
    def search() = Index.search(spark, "idx_mnt", embs, "vec_id",
        "embedding", col("vec_id") < 4, k = 3, nprobe = 3, rerank = 20)
      .orderBy("qid", "rank").as[(Long, Long, Long, Long)].collect().toSeq
    val clean = search()
    Index.appendInPlace(spark, "idx_mnt",
      embs.filter(col("vec_id") % 2 === 1), "vec_id", "embedding") // dup!
    assert(search() == clean)

    // compact reclaims the replay's duplicate rows: tables return to
    // exactly the clean encode; search still identical
    Index.compact(spark, "idx_mnt")
    assert(spark.table("idx_mnt_postings").as[(Long, Long)].collect().sorted.toSeq
      == expPost.select(col("cl").cast("long"), col("id")).as[(Long, Long)]
        .collect().sorted.toSeq)
    assert(search() == clean)
  }

  test("streaming takedown: retracted micro-batches equal one batch delete; replay is a no-op") {
    implicit val sqlCtx = spark.sqlContext
    val embs = cdc.Io.table(spark, sf, "embeddings")
    Index.build(spark, embs, "vec_id", "embedding", "label", "idx_ret",
      itersIvf = 1, massign = 2, m = 16, ksub = 32, itersPq = 1,
      nBuckets = 4,
      baseDir = Some(Files.createTempDirectory("graft_idx_ret").toString))
    val delRows = embs.filter(col("vec_id") % 3 === 0)
      .select(col("vec_id")).as[Long].collect().sorted.toSeq

    val ckpt = Files.createTempDirectory("idx_ret_ckpt").toString
    val input = MemoryStream[Long]
    val q = IndexStream.retract(input.toDF().toDF("vec_id"), "vec_id",
      "idx_ret", ckpt)
    val (b1, b2) = delRows.splitAt(delRows.length / 2)
    input.addData(b1: _*); q.processAllAvailable()
    input.addData(b2: _*); q.processAllAvailable()
    // replay half of batch 2's ids — an at-least-once duplicate
    // delivery; the anti-join makes it a no-op
    input.addData(b2.take(3): _*); q.processAllAvailable()
    q.stop()

    // the retracted tables equal one encode of the SURVIVORS at the
    // stored parameters
    val survivors = embs.filter(col("vec_id") % 3 =!= 0)
    val (expPost, _, _, expBq) = Index.encode(spark, "idx_ret", survivors,
      "vec_id", "embedding")
    assert(spark.table("idx_ret_postings").as[(Long, Long)]
      .collect().sorted.toSeq
      == expPost.select(col("cl").cast("long"), col("id")).as[(Long, Long)]
        .collect().sorted.toSeq)
    assert(spark.table("idx_ret_bq_codes").as[(Long, Long)]
      .collect().sorted.toSeq
      == expBq.as[(Long, Long)].collect().sorted.toSeq)
    // search never returns a retracted id
    val res = Index.search(spark, "idx_ret", embs, "vec_id", "embedding",
        col("vec_id") < 4, k = 3, nprobe = 3, rerank = 20)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(res.nonEmpty && res.forall { case (_, _, n, _) => n % 3 != 0 })
  }

  test("autoCompactFiles bounds a long maintenance run's file count; search equals the clean batch result") {
    implicit val sqlCtx = spark.sqlContext
    val embs = cdc.Io.table(spark, sf, "embeddings")
    val seed = embs.filter(col("vec_id") < 8)
    val restRows = embs.filter(col("vec_id") >= 8)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
    val base = Files.createTempDirectory("graft_idx_ac").toString
    Index.build(spark, seed, "vec_id", "embedding", "label", "idx_ac",
      itersIvf = 1, massign = 2, m = 16, ksub = 32, itersPq = 1,
      nBuckets = 4, baseDir = Some(base))

    val ckpt = Files.createTempDirectory("idx_ac_ckpt").toString
    val input = MemoryStream[(Long, Seq[Double])]
    val q = IndexStream.maintain(input.toDF().toDF("vec_id", "embedding"),
      "vec_id", "embedding", "idx_ac", ckpt,
      autoCompactFiles = Some(8))
    // 6 small epochs: unbounded, postings would hold ~6×buckets delta
    // files; the policy compacts whenever a part crosses 8
    restRows.take(18).grouped(3).foreach { g =>
      input.addData(g.toSeq: _*); q.processAllAvailable()
    }
    q.stop()

    val counts = Index.describe(spark, "idx_ac")
      .select("part", "n_files").as[(String, Long)].collect().toMap
    assert(counts.values.max <= 8,
      s"file count unbounded under the policy: $counts")
    // the maintained index equals one encode of everything-so-far
    val streamedIds = restRows.take(18).map(_._1)
    val all = embs.filter(col("vec_id") < 8 ||
      col("vec_id").isin(streamedIds: _*))
    val (expPost, _, _, _) = Index.encode(spark, "idx_ac", all,
      "vec_id", "embedding")
    assert(spark.table("idx_ac_postings").as[(Long, Long)]
      .collect().sorted.toSeq
      == expPost.select(col("cl").cast("long"), col("id")).as[(Long, Long)]
        .collect().sorted.toSeq)
  }

  test("CDC feed (X158): micro-batched upserts/tombstones + a replay equal ONE batch upsert of the LWW winners") {
    implicit val sqlCtx = spark.sqlContext
    val embs = cdc.Io.table(spark, sf, "embeddings")
    val evens = embs.filter(col("vec_id") % 2 === 0)
    // two indexes trained on the SAME rows: deterministic k-means ⇒
    // identical centroids/codebooks, so maintained state is comparable
    for (n <- Seq("idx_cdcs", "idx_cdcr"))
      Index.build(spark, evens, "vec_id", "embedding", "label", n,
        itersIvf = 1, massign = 2, m = 16, ksub = 32, itersPq = 1,
        nBuckets = 4,
        baseDir = Some(Files.createTempDirectory(s"graft_$n").toString))
    val vecOf = embs.select(col("vec_id"),
        col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().toMap
    // batch 1 carries an INTRA-batch conflict on key 2 (the (ts, seq)
    // winner is the later edit); batch 2 re-upserts key 0 (cross-batch
    // LWW by log order) and tombstones the batch-1 insert; batch 2
    // then redelivers whole (at-least-once replay — upsert's
    // marker-free idempotency)
    val b1 = Seq(
      (0L, cdc.ChangeOp.Update, vecOf(1L), 100L, 1L),
      (2L, cdc.ChangeOp.Update, vecOf(5L), 100L, 2L),
      (2L, cdc.ChangeOp.Update, vecOf(9L), 100L, 3L),
      (7L, cdc.ChangeOp.Insert, vecOf(8L), 100L, 4L),
      (6L, cdc.ChangeOp.Delete, vecOf(6L), 100L, 5L))
    val b2 = Seq(
      (0L, cdc.ChangeOp.Update, vecOf(3L), 200L, 6L),
      (7L, cdc.ChangeOp.Delete, vecOf(8L), 200L, 7L))
    val ckpt = Files.createTempDirectory("idx_cdc_ckpt").toString
    val input = MemoryStream[(Long, String, Seq[Double], Long, Long)]
    // the streaming frame drops negative keys, so a micro-batch of
    // only those reaches the feed as a trigger with no rows
    val q = TrilogyStream.applyChanges(
      input.toDF().toDF("key", "op", "vec", "ts_sec", "seq")
        .filter(col("key") >= 0),
      "key", "op", Seq(TrilogyStream.Ann("idx_cdcs", "vec")), ckpt)
    input.addData(b1: _*); q.processAllAvailable()
    def parts() = Index.describe(spark, "idx_cdcs")
      .select("part", "gen", "n_files").as[(String, Long, Long)]
      .collect().toSeq.sorted
    val (before, lastBatch) = (parts(), q.lastProgress.batchId)
    input.addData((-1L, cdc.ChangeOp.Insert, vecOf(8L), 150L, 9L))
    q.processAllAvailable()
    assert(q.recentProgress.exists(p =>
      p.batchId > lastBatch && p.numInputRows == 1),
      "the all-filtered micro-batch ran as a trigger")
    assert(parts().map(_._2).toSet == before.map(_._2).toSet,
      "an empty trigger advanced the state generation")
    assert(parts() == before, "an empty trigger added part files")
    input.addData(b2: _*); q.processAllAvailable()
    input.addData(b2: _*); q.processAllAvailable() // replay
    q.stop()
    // the reference: ONE upsert of the overall LWW winners
    Index.upsert(spark, "idx_cdcr",
      Seq((0L, vecOf(3L)), (2L, vecOf(9L))).toDF("vec_id", "embedding"),
      "vec_id", "embedding",
      delIds = Some(Seq(6L, 7L).toDF("vec_id")), delCol = "vec_id")
    for (p <- Seq("postings", "codes", "sq_codes", "bq_codes"))
      assert(spark.table(s"idx_cdcs_$p").collect().map(_.toSeq).toSet
        == spark.table(s"idx_cdcr_$p").collect().map(_.toSeq).toSet,
        s"part $p diverges from the one-batch upsert")
    // search over the merged corpus is identical and tombstone-free
    val merged = evens.filter(!col("vec_id").isin(0L, 2L, 6L))
      .select(col("vec_id").cast("long").as("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))
      .unionByName(Seq((0L, vecOf(3L)), (2L, vecOf(9L)))
        .toDF("vec_id", "embedding"))
    def searchOf(n: String) =
      Index.search(spark, n, merged, "vec_id", "embedding",
          col("vec_id") < 4, k = 3, nprobe = 3, rerank = 20)
        .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    val got = searchOf("idx_cdcs")
    assert(got.nonEmpty && got == searchOf("idx_cdcr"))
    assert(got.forall { case (_, _, nb, _) => nb != 6L && nb != 7L })
  }
}
