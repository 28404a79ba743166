package graft

import java.nio.file.Files

import scala.collection.JavaConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc._
import graft.streaming.LwwMerge
import graft.streaming.LwwMerge.KeyedChange

/** Streaming parity (SURVEY §5.4): the flatMapGroupsWithState LWW twin
  * agrees with the batch window merge, and the end-to-end pipeline
  * resumes from its checkpoint (S3 offset-persistence parity).
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** A state table's bucket → committed version, read from its
    * committed generation state (entry `b<k>` names `b<k>/<version>`).
    */
  private def committed(tableDir: String): Map[Int, String] =
    graft.ops.Generations.load(tableDir).get.current.map { case (e, ds) =>
      e.stripPrefix("b").toInt -> ds.head.stripPrefix(s"$e/") }
  import spark.implicits._

  test("streaming LWW state matches the batch merge winners") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[KeyedChange]
    val q = LwwMerge.merge(input.toDS())
      .writeStream.format("memory").queryName("lww_out")
      .outputMode("update").start()

    // batch 1: backfill snapshot
    input.addData(
      KeyedChange("k1", ChangeOp.Backfill, 1L, -1L, 0, "snap1"),
      KeyedChange("k2", ChangeOp.Backfill, 1L, -2L, 0, "snap2"))
    q.processAllAvailable()
    // batch 2: live updates — k1 updated, k2 deleted, k3 inserted
    input.addData(
      KeyedChange("k1", ChangeOp.Update, 10L, 1L, 1, "live1"),
      KeyedChange("k2", ChangeOp.Delete, 11L, 2L, 1, ""),
      KeyedChange("k3", ChangeOp.Insert, 12L, 3L, 1, "new3"))
    q.processAllAvailable()
    // batch 3: stale late backfill for k1/k2 must NOT win
    input.addData(
      KeyedChange("k1", ChangeOp.Backfill, 1L, -3L, 0, "stale"),
      KeyedChange("k2", ChangeOp.Backfill, 1L, -4L, 0, "ghost"))
    q.processAllAvailable()
    q.stop()

    // last emitted winner per key = streaming materialization
    val emitted = spark.table("lww_out").as[KeyedChange].collect()
    val streamed = emitted.groupBy(_.key).map { case (k, ws) =>
      k -> ws.maxBy(w => (w.ts_sec, w.precedence, w.seq))
    }

    // batch equivalent over the full union (tombstones filtered there)
    val all = emitted // emitted ⊆ input, but state winners == input winners
    val bf = Seq(
      ("k1", ChangeOp.Backfill, "snap1", 1L, -1L), ("k2", ChangeOp.Backfill, "snap2", 1L, -2L),
      ("k1", ChangeOp.Backfill, "stale", 1L, -3L), ("k2", ChangeOp.Backfill, "ghost", 1L, -4L))
      .toDF("key", "op", "bal", "ts_sec", "seq")
    val live = Seq(
      ("k1", ChangeOp.Update, "live1", 10L, 1L),
      ("k2", ChangeOp.Delete, "", 11L, 2L),
      ("k3", ChangeOp.Insert, "new3", 12L, 3L))
      .toDF("key", "op", "bal", "ts_sec", "seq")
    val batch = Merge.lww(bf, live).select("key", "op", "bal")
      .as[(String, String, String)].collect().map(r => r._1 -> (r._2, r._3)).toMap

    val streamedLive = streamed.collect {
      case (k, w) if w.op != ChangeOp.Delete => k -> (w.op, w.payload)
    }.toMap
    assert(streamedLive == batch)
    // tombstone was emitted for the sink to act on
    assert(streamed("k2").op == ChangeOp.Delete)
  }

  test("LWW: a batch whose rows all lose to stored winners rewrites no state and emits nothing") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[KeyedChange]
    val q = LwwMerge.merge(input.toDS())
      .writeStream.format("memory").queryName("lww_losers")
      .outputMode("update").start()
    try {
      input.addData(
        KeyedChange("k1", ChangeOp.Update, 10L, 1L, 1, "live1"),
        KeyedChange("k2", ChangeOp.Insert, 11L, 2L, 1, "live2"))
      q.processAllAvailable()
      def lastBatch = q.recentProgress.filter(_.numInputRows > 0).last
      assert(lastBatch.stateOperators.head.numRowsUpdated == 2)
      // stale backfill and an older live change: every row loses
      input.addData(
        KeyedChange("k1", ChangeOp.Backfill, 1L, -1L, 0, "stale1"),
        KeyedChange("k2", ChangeOp.Update, 5L, 0L, 1, "older2"))
      q.processAllAvailable()
      val progress = lastBatch
      assert(progress.batchId == 1 && progress.numInputRows == 2)
      assert(progress.stateOperators.head.numRowsUpdated == 0)
      assert(progress.stateOperators.head.numRowsTotal == 2)
      assert(spark.table("lww_losers").as[KeyedChange].collect().map(_.payload).sorted
        .sameElements(Seq("live1", "live2")))
    } finally q.stop()
  }

  test("state table: current-state materialization and tombstone memory") {
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft_state").toString
    val tableDir = s"$root/table"
    val ckpDir = s"$root/ckp"

    val input = MemoryStream[KeyedChange]
    val q1 = graft.streaming.StateTable.maintain(input.toDS(), tableDir, ckpDir)
    input.addData(
      KeyedChange("k1", ChangeOp.Backfill, 1L, -1L, 0, "snap1"),
      KeyedChange("k2", ChangeOp.Backfill, 1L, -2L, 0, "snap2"))
    q1.processAllAvailable()
    input.addData(
      KeyedChange("k1", ChangeOp.Update, 10L, 1L, 1, "live1"),
      KeyedChange("k2", ChangeOp.Delete, 11L, 2L, 1, ""))
    q1.processAllAvailable()
    q1.stop()

    def currentRows() = Merge.current(
        graft.streaming.StateTable.read(spark, tableDir))
      .select("key", "payload").as[(String, String)].collect().toMap
    assert(currentRows() == Map("k1" -> "live1"))

    // a later maintenance run over the SAME table (fresh stream; the
    // stream-checkpoint resume itself is covered by the pipeline
    // test): a stale backfill for the DELETED key must not resurrect
    // it — the tombstone was remembered in the table
    val input2 = MemoryStream[KeyedChange]
    val q2 = graft.streaming.StateTable.maintain(input2.toDS(), tableDir, s"$root/ckp2")
    input2.addData(
      KeyedChange("k2", ChangeOp.Backfill, 1L, -5L, 0, "ghost"),
      KeyedChange("k3", ChangeOp.Insert, 20L, 3L, 1, "new3"))
    q2.processAllAvailable()
    q2.stop()
    assert(currentRows() == Map("k1" -> "live1", "k3" -> "new3"))
  }

  test("state table: a batch rewrites only touched buckets; others stay byte-identical") {
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft_state_buckets").toString
    val tableDir = s"$root/table"
    import graft.streaming.StateTable

    // seed many keys across the bucket space
    val input = MemoryStream[KeyedChange]
    val q1 = StateTable.maintain(input.toDS(), tableDir, s"$root/ckp1", nBuckets = 8)
    input.addData((1 to 64).map(i =>
      KeyedChange(s"k$i", ChangeOp.Backfill, 1L, -i.toLong, 0, s"snap$i")): _*)
    q1.processAllAvailable()
    q1.stop()

    // fingerprint every committed data file (path → (size, md5))
    def fileState(): Map[String, (Long, String)] = {
      val base = java.nio.file.Paths.get(tableDir)
      val md = java.security.MessageDigest.getInstance("MD5")
      java.nio.file.Files.walk(base).iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p)
          && p.toString.contains("/b") && !p.toString.contains(".staging"))
        .map { p =>
          val bytes = java.nio.file.Files.readAllBytes(p)
          md.reset()
          base.relativize(p).toString ->
            (bytes.length.toLong, md.digest(bytes).map(b => f"$b%02x").mkString)
        }.toMap
    }
    val before = fileState()
    val manifestBefore = committed(tableDir)
    assert(manifestBefore.nonEmpty)

    // one-key update batch: exactly one bucket may change
    val input2 = MemoryStream[KeyedChange]
    val q2 = StateTable.maintain(input2.toDS(), tableDir, s"$root/ckp2", nBuckets = 8)
    input2.addData(KeyedChange("k7", ChangeOp.Update, 10L, 100L, 1, "live7"))
    q2.processAllAvailable()
    q2.stop()

    val after = fileState()
    val manifestAfter = committed(tableDir)
    val changedBuckets = manifestAfter.filter { case (b, v) =>
      manifestBefore.get(b) != Some(v)
    }.keySet
    assert(changedBuckets.size == 1) // only k7's bucket re-versioned
    // every file of every untouched bucket is literally the same file
    val touchedPrefix = s"b${changedBuckets.head}/"
    val untouchedBefore = before.filterNot(_._1.startsWith(touchedPrefix))
    val untouchedAfter = after.filterNot(_._1.startsWith(touchedPrefix))
    assert(untouchedBefore == untouchedAfter)
    // and the merged state is the full LWW result
    val cur = Merge.current(StateTable.read(spark, tableDir))
      .select("key", "payload").as[(String, String)].collect().toMap
    assert(cur.size == 64 && cur("k7") == "live7" && cur("k8") == "snap8")
  }

  test("state table: reads prune to committed manifest paths only") {
    val root = Files.createTempDirectory("graft_state_prune").toString
    val tableDir = s"$root/table"
    import graft.streaming.StateTable
    import spark.implicits._

    val seed = (1 to 32).map(i =>
      KeyedChange(s"k$i", ChangeOp.Backfill, 1L, -i.toLong, 0, s"snap$i")).toDF()
    StateTable.applyBatchBucketed(seed, tableDir, batchId = 0, nBucketsIfNew = 4)

    // plant an orphan version (crashed attempt) and a stale staging dir
    val manifest = committed(tableDir)
    val someBucket = manifest.keys.head
    val orphan = java.nio.file.Paths.get(tableDir, s"b$someBucket", "v_orphan")
    java.nio.file.Files.createDirectories(orphan)
    seed.limit(3).write.mode("overwrite").parquet(orphan.toString)
    val staleStaging = java.nio.file.Paths.get(tableDir, ".staging", "v_stale")
    java.nio.file.Files.createDirectories(staleStaging)

    // the scan must read exactly the committed files — never the
    // orphan version, never staging
    val committedDirs = manifest.map { case (b, v) => s"/b$b/$v/" }.toSet
    val scanned = StateTable.read(spark, tableDir).inputFiles.toSeq
    assert(scanned.nonEmpty)
    scanned.foreach { f =>
      assert(committedDirs.exists(f.contains),
        s"scan read a non-committed file: $f")
    }
    assert(!scanned.exists(_.contains("v_orphan")))
    assert(!scanned.exists(_.contains(".staging")))

    // the next successful commit sweeps the stale staging entry
    StateTable.applyBatchBucketed(
      Seq(KeyedChange("k1", ChangeOp.Update, 10L, 1L, 1, "live1")).toDF(),
      tableDir, batchId = 1, nBucketsIfNew = 4)
    assert(!java.nio.file.Files.exists(staleStaging))
  }

  test("state table: one file per committed bucket version; compact preserves winners") {
    val root = Files.createTempDirectory("graft_state_compact").toString
    val tableDir = s"$root/table"
    import graft.streaming.StateTable
    import spark.implicits._

    // seed has several input partitions — without compaction-on-write
    // each bucket version would collect one file per writing task
    val seed = (1 to 64).map(i =>
      KeyedChange(s"k$i", ChangeOp.Backfill, 1L, -i.toLong, 0, s"snap$i"))
      .toDF().repartition(4)
    StateTable.applyBatchBucketed(seed, tableDir, batchId = 0, nBucketsIfNew = 8)

    def parquetFilesPerVersion(): Map[String, Int] = {
      val m = committed(tableDir)
      m.map { case (b, v) =>
        s"b$b/$v" -> java.nio.file.Files.list(
            java.nio.file.Paths.get(tableDir, s"b$b", v))
          .iterator().asScala.count(_.toString.endsWith(".parquet"))
      }
    }
    assert(parquetFilesPerVersion().values.forall(_ == 1))

    val before = StateTable.read(spark, tableDir)
      .select("key", "payload").as[(String, String)].collect().toSet
    StateTable.compact(spark, tableDir)
    val after = StateTable.read(spark, tableDir)
      .select("key", "payload").as[(String, String)].collect().toSet
    assert(after == before)
    assert(parquetFilesPerVersion().values.forall(_ == 1))
    // every bucket dir holds exactly the one committed version
    val m2 = committed(tableDir)
    m2.foreach { case (b, v) =>
      val dirs = java.nio.file.Files.list(java.nio.file.Paths.get(tableDir, s"b$b"))
        .iterator().asScala.map(_.getFileName.toString).toSet
      assert(dirs == Set(v))
    }
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(tableDir, ".staging")))
  }

  test("state table: grace-period GC keeps a reader's snapshot alive across commits, then sweeps it") {
    val root = Files.createTempDirectory("graft_state_grace").toString
    val tableDir = s"$root/table"
    import graft.streaming.StateTable
    import spark.implicits._

    def batch(tag: String) = (1 to 16).map(i =>
      KeyedChange(s"k$i", ChangeOp.Update, tag.hashCode.abs.toLong,
        tag.hashCode.toLong, 1, s"$tag$i")).toDF()
    StateTable.applyBatchBucketed(batch("a"), tableDir, 0, 4, graceCommits = 2)

    // a reader resolves its snapshot NOW: explicit committed paths
    val snapshot = StateTable.read(spark, tableDir)
    val expected = snapshot.select("key", "payload")
      .as[(String, String)].collect().toSet
    val m1 = committed(tableDir)
    val v1Dirs = m1.map { case (b, v) => java.nio.file.Paths.get(tableDir, s"b$b", v) }

    // commit 2 supersedes every bucket — inside the grace window the
    // reader's files must survive and its scan still complete
    StateTable.applyBatchBucketed(batch("b"), tableDir, 1, 4, graceCommits = 2)
    assert(v1Dirs.forall(java.nio.file.Files.exists(_)))
    assert(snapshot.select("key", "payload")
      .as[(String, String)].collect().toSet == expected)

    // commit 3: still inside (gen 3 - retiredGen 2 = 1 < 2)
    StateTable.applyBatchBucketed(batch("c"), tableDir, 2, 4, graceCommits = 2)
    assert(v1Dirs.forall(java.nio.file.Files.exists(_)))

    // commit 4: the window has elapsed — the gen-1 versions are swept
    StateTable.applyBatchBucketed(batch("d"), tableDir, 3, 4, graceCommits = 2)
    assert(v1Dirs.forall(!java.nio.file.Files.exists(_)))

    // the live table was never affected by retention
    val cur = Merge.current(StateTable.read(spark, tableDir))
      .select("key", "payload").as[(String, String)].collect().toMap
    assert(cur.size == 16 && cur("k3") == "d3")
  }

  test("state table: a table committed in the earlier manifest.json layout keeps its rows, bucket count and graced retirees across the next batch") {
    val root = Files.createTempDirectory("graft_state_legacy").toString
    val tableDir = s"$root/table"
    import graft.streaming.StateTable
    import spark.implicits._

    def batch(tag: String, keys: Seq[Int]) = keys.map(i =>
      KeyedChange(s"k$i", ChangeOp.Update, tag.hashCode.abs.toLong,
        tag.hashCode.toLong, 1, s"$tag$i")).toDF()
    StateTable.applyBatchBucketed(batch("a", 1 to 16), tableDir, 0, 4,
      graceCommits = 2)
    StateTable.applyBatchBucketed(batch("b", 1 to 16), tableDir, 1, 4,
      graceCommits = 2)

    // rewrite the committed state as the earlier layout's manifest.json
    // (bucket → version, retired {b, v, gen}) and drop _state.json
    val st = graft.ops.Generations.load(tableDir).get
    val buckets = committed(tableDir).toSeq.sortBy(_._1)
      .map { case (b, v) => s""""$b": "$v"""" }.mkString(", ")
    val retiredDirs = st.retired.flatMap { case (g, d) =>
      d.values.flatten.map(g -> _) }
    assert(retiredDirs.nonEmpty && retiredDirs.forall(_._1 == 2L))
    val retired = retiredDirs.map { case (g, d) =>
      val Array(b, v) = d.split("/")
      s"""{"b": ${b.stripPrefix("b")}, "v": "$v", "gen": $g}"""
    }.mkString(", ")
    Files.writeString(java.nio.file.Paths.get(tableDir, "manifest.json"),
      s"""{"nBuckets": 4, "gen": ${st.gen}, "grace": 2, "buckets": {$buckets}, "retired": [$retired]}""")
    Files.delete(java.nio.file.Paths.get(tableDir,
      graft.ops.Generations.StateFile))

    def current() = Merge.current(StateTable.read(spark, tableDir))
      .select("key", "payload").as[(String, String)].collect().toMap
    val before = current()
    assert(before.size == 16 && before("k3") == "b3")

    // the next batch (asking for 8 buckets, grace 0) must hash with the
    // stored 4, keep every untouched row and the graced retirees, and
    // move the commit into _state.json
    StateTable.applyBatchBucketed(batch("c", Seq(1, 99)), tableDir, 2, 8)
    assert(current() == before ++ Map("k1" -> "c1", "k99" -> "c99"))
    val next = graft.ops.Generations.load(tableDir).get
    assert(next.gen == st.gen + 1 && next.grace == 2 &&
      next.layout == Map("nBuckets" -> 4))
    assert(next.current.keySet.forall(e => e.stripPrefix("b").toInt < 4))
    assert(retiredDirs.forall { case (_, d) =>
      Files.exists(java.nio.file.Paths.get(tableDir, d)) })
    assert(!Files.exists(java.nio.file.Paths.get(tableDir, "manifest.json")))
  }

  test("state table: replaying the same batch after a partial commit converges (idempotent)") {
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft_state_replay").toString
    val tableDir = s"$root/table"
    import graft.streaming.StateTable
    import spark.implicits._

    val seed = Seq(
      KeyedChange("a", ChangeOp.Backfill, 1L, -1L, 0, "snapA"),
      KeyedChange("b", ChangeOp.Backfill, 1L, -2L, 0, "snapB")).toDF()
    StateTable.applyBatchBucketed(seed, tableDir, batchId = 0, nBucketsIfNew = 4)
    val batch = Seq(
      KeyedChange("a", ChangeOp.Update, 10L, 1L, 1, "liveA"),
      KeyedChange("c", ChangeOp.Insert, 11L, 2L, 1, "newC")).toDF()
    // simulate the crash-after-manifest-commit window: the same batch
    // is applied twice (checkpoint replay re-runs the failed batch)
    StateTable.applyBatchBucketed(batch, tableDir, batchId = 1, nBucketsIfNew = 4)
    StateTable.applyBatchBucketed(batch, tableDir, batchId = 1, nBucketsIfNew = 4)
    val cur = Merge.current(StateTable.read(spark, tableDir))
      .select("key", "payload").as[(String, String)].collect().toMap
    assert(cur == Map("a" -> "liveA", "b" -> "snapB", "c" -> "newC"))
    // no duplicate winners per key survived the double application
    val allRows = StateTable.read(spark, tableDir).groupBy("key").count()
      .filter(col("count") > 1).count()
    assert(allRows == 0)
  }

  test("streaming curation: quality + repetition gates drop junk before dedup state; dups drop within watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val good = "the quick brown fox jumps over the lazy dog and keeps running through the field"
    val junk = "!!!! ???? ###"
    // boilerplate: decent quality heuristics but one dominating bigram
    val loop = "the click here button and the click here button and the click here button and the click here button"
    val q = graft.streaming.Pipeline.curated(
        input.toDF().toDF("doc_id", "text", "ts"),
        watermark = "1 hour", minQualityMicros = 450000L,
        maxTopBigramMicros = 120000L)
      .writeStream.format("memory").queryName("curate_out")
      .outputMode("append").start()

    def t(s: Long) = new java.sql.Timestamp(1767225600000L + s * 1000)
    input.addData(Seq((1L, good, t(0)), (2L, junk, t(1)), (3L, good, t(2))))
    q.processAllAvailable()
    input.addData(Seq((4L, good, t(3)), (5L, good + " extra tail", t(4)),
      (6L, loop, t(5))))
    q.processAllAvailable()
    q.stop()

    val out = spark.table("curate_out")
      .select("doc_id", "lang_pred").as[(Long, String)].collect().toMap
    // junk gated out; the repetitive doc gated out by top-bigram share;
    // duplicate fingerprints (docs 3, 4) dropped; the near-but-not-exact
    // dup survives (exact dedup, not near-dup)
    assert(out.keySet == Set(1L, 5L))
    assert(out(1L) == "en")
    spark.sql("DROP TABLE IF EXISTS curate_out")
  }

  test("pii scrub composes ahead of curation: text clean before fingerprint state") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    def t(s: Long) = new java.sql.Timestamp(1767225600000L + s * 1000)
    val base = "the quick brown fox jumps over the lazy dog and keeps running through the field"
    val q = graft.streaming.Pipeline.curated(
        graft.streaming.Pipeline.piiScrubbed(
          input.toDF().toDF("doc_id", "text", "ts")),
        watermark = "1 hour", minQualityMicros = 400000L)
      .writeStream.format("memory").queryName("pii_out")
      .outputMode("append").start()

    // docs 1 and 2 differ ONLY in their (distinct) email addresses —
    // after the scrub their fingerprints collide, so the dedup store
    // must drop the second; PII never reaches any state
    input.addData(Seq(
      (1L, s"$base contact alice@example.com today", t(0)),
      (2L, s"$base contact bob@other.org today", t(1)),
      (3L, s"$base no contact at all here", t(2))))
    q.processAllAvailable()
    q.stop()

    val out = spark.table("pii_out")
      .select("doc_id", "text", "n_emails")
      .as[(Long, String, Long)].collect()
    assert(out.map(_._1).toSet == Set(1L, 3L))
    val d1 = out.find(_._1 == 1L).get
    assert(d1._2 == s"$base contact <EMAIL> today" && d1._3 == 1L)
    assert(out.find(_._1 == 3L).get._3 == 0L)
    spark.sql("DROP TABLE IF EXISTS pii_out")
  }

  test("contamination gate flags pasted benchmark text on ingest") {
    implicit val sqlCtx = spark.sqlContext
    val bench = Seq("alpha beta gamma delta epsilon zeta eta theta")
      .toDF("text")
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    def t(s: Long) = new java.sql.Timestamp(1767225600000L + s * 1000)
    val q = graft.streaming.Pipeline.contaminationGate(
        input.toDF().toDF("doc_id", "text", "ts"), bench, k = 3,
        watermark = "5 minutes", threshold = 0.5)
      .writeStream.format("memory").queryName("contam_out")
      .outputMode("append").start()

    input.addData(Seq(
      (1L, "intro then alpha beta gamma delta epsilon zeta eta theta end", t(0)),
      (2L, "totally unrelated words without any benchmark trigrams inside", t(1))))
    q.processAllAvailable()
    // sentinel advances the watermark so the per-doc aggs finalize
    input.addData(Seq((9L, "x y z", t(9000L))))
    q.processAllAvailable()
    input.addData(Seq((10L, "x y z", t(9001L))))
    q.processAllAvailable()
    q.stop()

    val out = spark.table("contam_out")
      .select("doc_id", "contaminated").as[(Long, Boolean)].collect().toMap
    assert(out(1L) && !out(2L))
    spark.sql("DROP TABLE IF EXISTS contam_out")
  }

  test("the crawl chain composes: streamWarc -> htmlToText -> canonical URL, one query") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("crawl_chain").toString
    val ckpt = java.nio.file.Files.createTempDirectory("crawl_ck").toString
    // two records = one page crawled twice (messy vs clean URL), HTML
    // bodies with extraction hazards
    val recs = Seq(
      ("HTTP://Example.COM:80/p/?b=2&a=1#f",
        "<html><script>var j=1<2;</script><body><p>hello  crawl</p></body></html>"),
      ("http://example.com/p?a=1&b=2",
        "<html><body><p>hello&amp;again</p></body></html>"))
    val out = new java.io.FileOutputStream(s"$dir/seg.warc")
    try recs.foreach { case (u, body) =>
      out.write(graft.ops.IoFormats.warcRecordForTest(u, body))
    } finally out.close()

    val q = graft.ops.IoFormats.streamWarc(spark, dir)
      .select(
        graft.ops.Urls.canonicalize(col("uri")).as("canon_url"),
        graft.ops.TextAnalysis.htmlToText(
          col("payload").cast("string")).as("text"))
      .writeStream.format("memory").queryName("crawl_out")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("crawl_out")
      .as[(String, String)].collect().sortBy(_._2)
    assert(rows.length == 2)
    // both crawls collapse to ONE canonical URL...
    assert(rows.map(_._1).distinct.toSeq ==
      Seq("http://example.com/p?a=1&b=2"))
    // ...and the extraction survived the binary payload round trip
    assert(rows.map(_._2).toSeq == Seq("hello crawl", "hello&again"))
    spark.sql("DROP TABLE IF EXISTS crawl_out")
  }

  test("streaming WET sink: live exit == batch export content; replay-safe names") {
    implicit val sqlCtx = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("wet_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("wet_sink_ck").toString
    val input = MemoryStream[(Long, String)]
    val docs = input.toDS().toDF("doc_id", "text")
    val q = graft.streaming.Pipeline.wetSink(docs, "doc_id", "text",
      out, ckpt)
    try {
      input.addData((0L, "alpha beta"), (1L, "g & h"))
      q.processAllAvailable()
      input.addData((2L, "late arrival"))
      q.processAllAvailable()
      val back = graft.ops.IoFormats.readWarc(spark, out)
        .as[graft.ops.IoFormats.WarcRow].collect()
      assert(back.length == 3 && back.forall(_.warc_type == "conversion"))
      // file names carry (batch, partition) — the replay-idempotence
      // contract — and the two batches landed as separate segments
      val files = back.map(_.file.split("/").last).distinct.sorted
      assert(files.forall(_.matches("batch-\\d{6}-part-\\d{5}\\.warc\\.wet\\.gz")))
      assert(files.map(_.take(12)).distinct.length == 2) // two batch ids
      // content equals the BATCH export's extraction of the same docs
      val batchDocs = Seq((0L, "alpha beta"), (1L, "g & h"),
        (2L, "late arrival")).toDF("doc_id", "text")
      val expected = graft.ops.IoFormats
        .wetRows(batchDocs, "doc_id", "text")
        .as[(Long, String)].collect().toMap
      val got = back.map(r => r.uri.split("/doc/").last.toLong ->
        new String(r.payload, "UTF-8")).toMap
      assert(got == expected)
      assert(got(1L).contains("g & h")) // the extraction hop ran
    } finally q.stop()
  }

  test("streaming WARC ingest: arriving segments parse once, equal batch read") {
    val dir = java.nio.file.Files.createTempDirectory("warc_str").toString
    val ckpt = java.nio.file.Files.createTempDirectory("warc_str_ck").toString
    // segment 1 exists before the stream starts
    graft.ops.IoFormats.stageWarcMessy(s"$dir", n = 8)
    val q = graft.ops.IoFormats.streamWarc(spark, dir)
      .writeStream.format("memory").queryName("warc_stream_out")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    q.processAllAvailable()
    val n1 = spark.table("warc_stream_out").count()
    assert(n1 == 8L, s"segment 1 records: $n1")
    // segment 2 arrives mid-stream (a fresh crawl shard lands)
    val seg2 = graft.ops.IoFormats.stageWarcFixture(
      java.nio.file.Files.createTempDirectory("warc_seg2").toString, n = 5)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$seg2/fixture.warc"),
      java.nio.file.Paths.get(s"$dir/seg2.warc"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("warc_stream_out")
      .as[graft.ops.IoFormats.WarcRow].collect()
    // each segment parsed exactly once; union equals the batch read
    assert(rows.length == 13)
    val batch = graft.ops.IoFormats.readWarc(spark, dir)
      .as[graft.ops.IoFormats.WarcRow].collect()
    def key(r: graft.ops.IoFormats.WarcRow) =
      (r.file, r.rec_idx, r.uri, r.content_length,
        new String(r.payload, "UTF-8"))
    assert(rows.map(key).toSet == batch.map(key).toSet)
    spark.sql("DROP TABLE IF EXISTS warc_stream_out")
  }

  test("bloom contamination gate flags in the SAME batch, no watermark dance") {
    implicit val sqlCtx = spark.sqlContext
    val bench = Seq("alpha beta gamma delta epsilon zeta eta theta")
      .toDF("text")
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    def t(s: Long) = new java.sql.Timestamp(1767225600000L + s * 1000)
    val q = graft.streaming.Pipeline.bloomContaminationGate(
        input.toDF().toDF("doc_id", "text", "ts"), bench, k = 3,
        threshold = 0.5)
      .writeStream.format("memory").queryName("bcontam_out")
      .outputMode("append").start()

    // ONE batch — the narrow map needs no watermark to finalize
    input.addData(Seq(
      (1L, "intro then alpha beta gamma delta epsilon zeta eta theta end", t(0)),
      (2L, "totally unrelated words without any benchmark trigrams inside", t(1))))
    q.processAllAvailable()
    q.stop()

    val out = spark.table("bcontam_out")
      .select("doc_id", "contaminated", "containment_micros")
      .as[(Long, Boolean, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out.keySet == Set(1L, 2L), "both docs emitted in batch one")
    assert(out(1L)._1 && !out(2L)._1)
    // upper-bound law on this fixture: doc 2 shares no trigram with
    // the bench and the Bloom stays quiet at this load -> exact zero;
    // doc 1's containment can only be >= the true value
    assert(out(2L)._2 == 0L)
    assert(out(1L)._2 >= 500000L)
    spark.sql("DROP TABLE IF EXISTS bcontam_out")
  }

  test("LWW state runs on the RocksDB state store (big-state deployment path)") {
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[KeyedChange]
      val q = LwwMerge.merge(input.toDS())
        .writeStream.format("memory").queryName("lww_rocks")
        .outputMode("update").start()
      input.addData(
        KeyedChange("k1", ChangeOp.Backfill, 1L, -1L, 0, "snap1"),
        KeyedChange("k2", ChangeOp.Backfill, 1L, -2L, 0, "snap2"))
      q.processAllAvailable()
      input.addData(
        KeyedChange("k1", ChangeOp.Update, 10L, 1L, 1, "live1"),
        KeyedChange("k1", ChangeOp.Backfill, 1L, -3L, 0, "stale"))
      q.processAllAvailable()
      q.stop()
      val winners = spark.table("lww_rocks").as[KeyedChange].collect()
        .groupBy(_.key).map { case (k, ws) =>
          k -> ws.maxBy(w => (w.ts_sec, w.precedence, w.seq)).payload
        }
      assert(winners == Map("k1" -> "live1", "k2" -> "snap2"))
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("session/as-of/SCD state runs on the RocksDB state store (big-state deployment path)") {
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      def t(s: Long) = new java.sql.Timestamp((1767225600L + s) * 1000)
      // temporal join: version list + pending-probe state on RocksDB
      val probesIn = MemoryStream[(String, java.sql.Timestamp, String)]
      val versionsIn = MemoryStream[(String, java.sql.Timestamp)]
      val q1 = graft.streaming.TemporalJoin.asOf(
          probesIn.toDF().toDF("key", "ts", "payload"),
          versionsIn.toDF().toDF("key", "ts"), "5 minutes")
        .writeStream.format("memory").queryName("asof_rocks")
        .outputMode("append").start()
      versionsIn.addData(Seq(("k", t(100L))))
      probesIn.addData(Seq(("k", t(200L), "p")))
      q1.processAllAvailable()
      versionsIn.addData(Seq(("kZ", t(9000L))))
      q1.processAllAvailable()
      versionsIn.addData(Seq(("kZ", t(9001L))))
      q1.processAllAvailable()
      q1.stop()
      val asof = spark.table("asof_rocks")
        .as[graft.streaming.TemporalJoin.AsOfOut].collect()
      assert(asof.map(o => (o.key, o.asof_ts_us)).toSet ==
        Set(("k", Some((1767225600L + 100L) * 1000000L))))

      // streaming SCD-2: open-version + buffer state on RocksDB
      val scdIn = MemoryStream[(String, java.sql.Timestamp, Long, String, String)]
      val q2 = graft.streaming.ScdStream.closedVersions(
          scdIn.toDF().toDF("key", "ts", "seq", "payload", "op"), "5 minutes")
        .writeStream.format("memory").queryName("scd_rocks")
        .outputMode("append").start()
      scdIn.addData(Seq(("a", t(100L), 1L, "v1", ChangeOp.Insert),
        ("a", t(300L), 2L, "v2", ChangeOp.Update)))
      q2.processAllAvailable()
      scdIn.addData(Seq(("zZ", t(9000L), 9L, "z", ChangeOp.Insert)))
      q2.processAllAvailable()
      scdIn.addData(Seq(("zZ", t(9001L), 10L, "z", ChangeOp.Insert)))
      q2.processAllAvailable()
      q2.stop()
      val closed = spark.table("scd_rocks")
        .as[graft.streaming.ScdStream.ClosedVersion].collect()
        .map(c => (c.key, c.payload)).toSet
      assert(closed == Set(("a", "v1")))
      spark.sql("DROP TABLE IF EXISTS asof_rocks")
      spark.sql("DROP TABLE IF EXISTS scd_rocks")
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("streaming exact dedup drops repeated fingerprints within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val base = 1704067200000L
    def ts(min: Long) = new java.sql.Timestamp(base + min * 60000)
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val q = graft.streaming.Pipeline.dedupedByFingerprint(
        input.toDF().toDF("ts", "payload"), "payload", "1 hour")
      .select("payload")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    input.addData((ts(0), "aaa"), (ts(1), "bbb"), (ts(2), "aaa"))
    q.processAllAvailable()
    input.addData((ts(3), "aaa"), (ts(4), "ccc"))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("dedup_out").as[String].collect().toSeq
    assert(out.sorted == Seq("aaa", "bbb", "ccc"))
  }

  test("streaming sessionization matches the batch session_window twin") {
    implicit val sqlCtx = spark.sqlContext
    val base = 1704067200000L // 2024-01-01T00:00Z
    def ts(min: Long) = new java.sql.Timestamp(base + min * 60000)
    // two groups; gap 10 min → (d1,t1): {0,5,9}, {25,28}; (d2,t2): {7}
    val real = Seq(
      (ts(0), "d1", "t1"), (ts(5), "d1", "t1"), (ts(9), "d1", "t1"),
      (ts(25), "d1", "t1"), (ts(28), "d1", "t1"),
      (ts(7), "d2", "t2"))

    val input = MemoryStream[(java.sql.Timestamp, String, String)]
    val q = graft.streaming.Pipeline.sessionizedCounts(
        input.toDF().toDF("ts", "db", "table"), "0 seconds", "10 minutes")
      .selectExpr("db", "table", "unix_micros(session_window.start) AS s",
        "unix_micros(session_window.end) AS e", "n_changes")
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    input.addData(real: _*)
    q.processAllAvailable()
    // sentinel a day later pushes the watermark past every real
    // session; its own still-open session is withheld by append mode
    input.addData((ts(60 * 24), "d9", "t9"))
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("sess_out")
      .as[(String, String, Long, Long, Long)].collect().toSet
    val batch = real.toDF("ts", "db", "table")
      .groupBy(col("db"), col("table"),
        expr("session_window(ts, '10 minutes')").as("w"))
      .agg(count(lit(1)).as("n_changes"))
      .selectExpr("db", "table", "unix_micros(w.start) AS s",
        "unix_micros(w.end) AS e", "n_changes")
      .as[(String, String, Long, Long, Long)].collect().toSet
    assert(streamed == batch)
    assert(batch.map(r => (r._1, r._5)) == Set(("d1", 3L), ("d1", 2L), ("d2", 1L)))
  }

  test("full reference flow on the DSv2 source: snapshot log + live log → LWW state") {
    // the reference's snapshot-then-stream: log segment 1 is the
    // backfill (op=Backfill, ts=1 placeholder, main.rs:375), segment 2
    // the live binlog tail; the merge must let live rows supersede
    // stale snapshot rows and tombstones delete.
    val dir = Files.createTempDirectory("cl_e2e").toString
    def row(id: Int, v: String) = s"""{"id":"$id","v":"$v"}"""
    def line(op: String, before: String, after: String, ts: Long): String =
      s"""{"op":"$op","db":"d","table":"t","before":$before,"after":$after,"ts":$ts,"pkey":"id"}"""
    Files.write(java.nio.file.Paths.get(dir, "log.000001.jsonl"),
      (1 to 5).map(i => line("Backfill", "null", row(i, s"snap$i"), 1L))
        .mkString("", "\n", "\n").getBytes)
    Files.write(java.nio.file.Paths.get(dir, "log.000002.jsonl"),
      Seq(
        line("Update", row(2, "snap2"), row(2, "live2"), 100L),
        line("Delete", row(3, "snap3"), "null", 101L),
        line("Insert", "null", row(9, "new9"), 102L)).mkString("", "\n", "\n").getBytes)

    val changes = spark.readStream.format("graft-changelog").option("path", dir).load()
    val keyed = changes.select(
      coalesce(get_json_object(col("after"), "$.id"),
        get_json_object(col("before"), "$.id")).as("key"),
      col("op"), unix_timestamp(col("ts")).as("ts_sec"), col("seq"),
      when(col("op") === ChangeOp.Backfill, 0).otherwise(1).as("precedence"),
      coalesce(col("after"), lit("")).as("payload")).as[LwwMerge.KeyedChange]

    val q = LwwMerge.merge(keyed)
      .writeStream.format("memory").queryName("e2e_out")
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    val finalState = spark.table("e2e_out").as[KeyedChange].collect()
      .groupBy(_.key).map { case (k, ws) =>
        k -> ws.maxBy(w => (w.ts_sec, w.precedence, w.seq))
      }.collect { case (k, w) if w.op != ChangeOp.Delete => k -> w.payload }

    assert(finalState == Map(
      "1" -> """{"id":"1","v":"snap1"}""",
      "2" -> """{"id":"2","v":"live2"}""",
      "4" -> """{"id":"4","v":"snap4"}""",
      "5" -> """{"id":"5","v":"snap5"}""",
      "9" -> """{"id":"9","v":"new9"}"""))
  }

  test("pipeline: file stream → envelope → debezium → topic sink, checkpoint resume") {
    val root = Files.createTempDirectory("graft_stream").toFile
    val src = new java.io.File(root, "src"); src.mkdirs()
    val out = new java.io.File(root, "out").getAbsolutePath
    val ckp = new java.io.File(root, "ckp").getAbsolutePath

    def writeEvents(ids: Seq[Long], path: String): Unit =
      ids.map(i => (i, i % 7, if (i % 2 == 0) "signup" else "purchase",
          s"""{"id":"$i"}""", new java.sql.Timestamp(1700000000000L + i * 1000)))
        .toDF("event_id", "user_id", "event_type", "props", "ts")
        .write.mode("append").parquet(path)

    writeEvents(0L until 10L, src.getAbsolutePath)
    val schema = spark.read.parquet(src.getAbsolutePath).schema

    def runOnce(): Unit = {
      val changes = ChangeSource.fromEvents(
        spark.readStream.schema(schema).parquet(src.getAbsolutePath))
      val q = graft.streaming.Pipeline.transformed(changes, regex = "^db.\\.(users|orders)$")
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckp)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.write.mode("append").partitionBy("topic").parquet(out)
        }.start()
      q.awaitTermination()
    }

    runOnce()
    val n1 = spark.read.parquet(out).count()
    assert(n1 == 10L)

    // new files arrive; resume must process ONLY them (offset parity)
    writeEvents(10L until 15L, src.getAbsolutePath)
    runOnce()
    val df2 = spark.read.parquet(out)
    assert(df2.count() == 15L) // no reprocessing of the first 10
    val topics = df2.select("topic").distinct().as[String].collect().toSet
    assert(topics == Set(
      "projects/my-project-id/topics/all_pims.users",
      "projects/my-project-id/topics/all_pims.orders"))
    val payload = df2.filter(col("payload").contains(""""id":"3"""))
      .select("payload").as[String].head()
    assert(payload.contains(""""op":"c""""))
  }

  test("media decode is streaming-compatible as-is: per-batch codec output equals the batch path") {
    implicit val sqlCtx = spark.sqlContext
    // the whole codec pipeline is a stateless narrow map, so it runs
    // unchanged on a stream — decode-on-ingest, the 100 TB shape
    // where media never lands undecoded
    val input = MemoryStream[Long]
    val out = Files.createTempDirectory("mm_stream_out").toString + "/o"
    val q = graft.ops.Multimodal.decodeImages(
        graft.ops.Multimodal.imageFixture(input.toDF().toDF("doc_id")))
      .toDF()
      .writeStream
      .option("checkpointLocation",
        Files.createTempDirectory("mm_stream_ckp").toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.write.mode("append").parquet(out)
      }.start()
    input.addData(0L, 1L, 2L); q.processAllAvailable()
    input.addData(7L, 58L); q.processAllAvailable()
    q.stop()
    val streamed = spark.read.parquet(out)
      .orderBy("media_id").collect().map(_.toSeq).toSeq
    val batch = graft.ops.Multimodal.decodeImages(
        graft.ops.Multimodal.imageFixture(
          Seq(0L, 1L, 2L, 7L, 58L).toDF("doc_id")))
      .toDF().orderBy("media_id").collect().map(_.toSeq).toSeq
    assert(streamed == batch && batch.size == 5)
  }

  test("kafka sink frame: exact (key,value,topic) contract, one record per change; gated start is a no-op without brokers") {
    val changes = ChangeSource.fromEvents(
      (0L until 8L).map(i => (i, i % 4,
        Seq("signup", "purchase", "page_view", "error")(i.toInt % 4),
        s"""{"id":"$i"}""",
        new java.sql.Timestamp(1700000000000L + i * 1000)))
        .toDF("event_id", "user_id", "event_type", "props", "ts"))
    val frame = graft.streaming.Sink.kafkaFrame(changes)
    // the built-in kafka sink consumes exactly these columns; key and
    // value must be binary
    assert(frame.columns.toSeq == Seq("key", "value", "topic"))
    assert(frame.schema("key").dataType.typeName == "binary")
    assert(frame.schema("value").dataType.typeName == "binary")
    // one record per change, no fan-out or drops
    assert(frame.count() == changes.count())
    val rows = frame.collect().map(r => (
      new String(r.getAs[Array[Byte]]("key"), "UTF-8"),
      new String(r.getAs[Array[Byte]]("value"), "UTF-8"),
      r.getAs[String]("topic")))
    // key = db.table (entity ordering key); topic = the routing rule
    assert(rows.forall { case (k, _, t) =>
      k.matches("db[0-3]\\.(users|orders|activity)") &&
        t.startsWith("projects/my-project-id/topics/all_pims.")
    })
    // value is the Debezium wire payload
    assert(rows.forall(_._2.contains(""""op":""")))
    val sig = rows.find(_._2.contains(""""id":"0"""")).get
    assert(sig._1 == "db0.users" &&
      sig._3 == "projects/my-project-id/topics/all_pims.users")

    // no broker env -> gated off: nothing starts, nothing throws
    assert(graft.streaming.Sink.kafkaSink(changes, "/tmp/unused-ckp",
      brokers = None).isEmpty)
  }

  test("drift gauge: per-micro-batch JS equals the batch scorer on each batch") {
    implicit val sqlCtx = spark.sqlContext
    // reference frozen from a static corpus; the stream drifts in
    // batch 2 (new vocabulary from source B)
    val ref = Seq((0L, "alpha beta beta gamma", "A"),
      (1L, "alpha alpha beta delta", "B"))
      .toDF("doc_id", "text", "source")
    val frozen = graft.ops.Drift.freezeDistribution(ref, "text", maxVocab = 4)

    val b1 = Seq((2L, "alpha beta gamma gamma", "A"))
    val b2 = Seq((3L, "omega omega sigma tau", "B"),
      (4L, "beta beta alpha delta", "A"))
    val input = MemoryStream[(Long, String, String)]
    val perBatch = scala.collection.mutable.ArrayBuffer
      .empty[Set[(String, Long, Long)]]
    val q = input.toDF().toDF("doc_id", "text", "source")
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        perBatch += graft.streaming.Pipeline.driftGauge(b, frozen)
          .as[(String, Long, Long)].collect().toSet: Unit
      }.start()
    input.addData(b1); q.processAllAvailable()
    input.addData(b2); q.processAllAvailable()
    q.stop()

    def batchOf(rows: Seq[(Long, String, String)]) =
      graft.ops.Drift.tokenJsFrozen(
        rows.toDF("doc_id", "text", "source"), "text", "source", frozen)
        .as[(String, Long, Long)].collect().toSet
    assert(perBatch.toSeq == Seq(batchOf(b1), batchOf(b2)))
    // and the drifted batch actually registers: B (all-new vocab) sits
    // at the gauge's zero-support ceiling, far above A
    val m2 = perBatch(1).map(r => r._1 -> r._3).toMap
    assert(m2("B") > 300000L && m2("A") < 100000L)
  }
  test("state table: describe reports the live layout without reading data") {
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft_state_desc").toString
    val tableDir = s"$root/table"
    import graft.streaming.StateTable
    import spark.implicits._

    val seed = (1 to 16).map(i =>
      KeyedChange(s"k$i", ChangeOp.Update, 1L, 1L, 1, s"p$i")).toDF()
    StateTable.applyBatchBucketed(seed, tableDir, 0, 4, graceCommits = 2)
    val d1 = StateTable.describe(spark, tableDir)
      .as[(Int, String, Long, Long, Long, Int, Int, Int)].collect().toSeq
    // all 4 buckets live, one file each (commit compacts on write),
    // real bytes, gen 1, grace policy recorded, nothing retired yet
    assert(d1.map(_._1).sorted == Seq(0, 1, 2, 3))
    assert(d1.forall(_._3 == 1L) && d1.forall(_._4 > 0L))
    assert(d1.forall(r => r._5 == 1L && r._6 == 4 && r._7 == 2 && r._8 == 0))

    // a second commit retires the first versions inside the grace
    // window — describe surfaces them in n_retired
    StateTable.applyBatchBucketed(seed, tableDir, 1, 4, graceCommits = 2)
    val d2 = StateTable.describe(spark, tableDir)
      .as[(Int, String, Long, Long, Long, Int, Int, Int)].collect().toSeq
    assert(d2.forall(r => r._5 == 2L && r._8 == 4))
    // versions advanced for every bucket
    assert(d1.map(r => (r._1, r._2)).toSet
      .intersect(d2.map(r => (r._1, r._2)).toSet).isEmpty)
  }
}
