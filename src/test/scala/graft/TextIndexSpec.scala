package graft

import java.nio.file.Files
import java.security.MessageDigest

import scala.collection.JavaConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops._

/** Persisted inverted text index: the build/serve split for BM25 and
  * its EXACT maintenance laws — search-after-append/delete equals a
  * from-scratch build bit-for-bit (BM25's global stats are sums, so
  * no fixed-parameter compromise exists), plus the byte-level
  * append-only / bucket-pruned file guarantees. End-to-end the same
  * contracts are proven by the shared DuckDB oracles
  * (q_text_index_search/append/delete share q_text_bm25's SQL).
  */
class TextIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private def docs = cdc.Io.table(spark, sf, "documents")

  private def tmpBase(tag: String): String =
    Files.createTempDirectory(s"graft_tidx_$tag").toString

  private def fileHashes(dir: String): Map[String, String] = {
    val root = java.nio.file.Paths.get(dir)
    Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p))
      .filterNot { p =>
        val n = p.getFileName.toString
        n.startsWith("_") || n.startsWith(".")
      }
      .map { p =>
        val md5 = MessageDigest.getInstance("MD5")
          .digest(Files.readAllBytes(p)).map("%02x".format(_)).mkString
        root.relativize(p).toString -> md5
      }.toMap
  }

  /** The part's CURRENT generation dir, resolved like register does:
    * through the atomic state file.
    */
  private def currentDir(base: String, name: String, p: String): String = {
    val dir = s"$base/$name"
    s"$dir/${Generations.load(dir).get.dir(p)}"
  }

  private def searchOf(name: String) =
    TextIndex.search(spark, name, k = 10)
      .as[(Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq

  private def inPlan(corpus: org.apache.spark.sql.DataFrame) =
    Retrieval.bm25TopK(corpus, "doc_id", "text", k = 10)
      .as[(Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq

  test("search from the artifact equals the in-plan BM25 bit-for-bit") {
    TextIndex.build(spark, docs, "doc_id", "text", "tidx_eq",
      nBuckets = 4, baseDir = Some(tmpBase("eq")))
    val got = searchOf("tidx_eq")
    assert(got.nonEmpty && got == inPlan(docs))
  }

  test("append equals a rebuild over the union; committed files byte-untouched; replay is a no-op") {
    val dir = tmpBase("app")
    val even = docs.filter(col("doc_id") % 2 === 0)
    val odd = docs.filter(col("doc_id") % 2 === 1)
    TextIndex.build(spark, even, "doc_id", "text", "tidx_app",
      nBuckets = 4, baseDir = Some(dir))
    val before = fileHashes(currentDir(dir, "tidx_app", "postings"))
    TextIndex.append(spark, "tidx_app", odd, "doc_id", "text")
    // append-only: every committed posting file survives byte-identical
    // (hard-linked into the new generation under its own name)
    val after = fileHashes(currentDir(dir, "tidx_app", "postings"))
    for ((n, h) <- before)
      assert(after.get(n).contains(h), s"committed file $n changed")
    assert(after.size > before.size, "append landed no delta files")
    // exactness: search == in-plan BM25 over the UNION (global stats
    // df/N/avgdl are sums, so the append is exact, not approximate)
    val got = searchOf("tidx_app")
    assert(got.nonEmpty && got == inPlan(docs))
    // replayed append: known ids are dropped up front, nothing changes
    TextIndex.append(spark, "tidx_app", odd, "doc_id", "text")
    assert(searchOf("tidx_app") == got)
  }

  test("pure-tombstone upsert (present-but-empty docs) matches the delete twin's file counts; duplicate ingest ids are refused (advice r16)") {
    val dirA = tmpBase("eupa"); val dirB = tmpBase("eupb")
    for ((n, d) <- Seq("tidx_eua" -> dirA, "tidx_eub" -> dirB))
      TextIndex.build(spark, docs, "doc_id", "text", n,
        nBuckets = 4, baseDir = Some(d))
    val emptyDocs = docs.filter(col("doc_id") < 0)
    val tomb = docs.filter(col("doc_id") % 5 === 0).select(col("doc_id"))

    TextIndex.upsert(spark, "tidx_eua", emptyDocs, "doc_id", "text",
      delIds = Some(tomb), delCol = "doc_id")
    TextIndex.delete(spark, "tidx_eub", tomb, "doc_id")
    for (p <- Seq("postings", "dl", "stats", "meta")) {
      assert(
        fileHashes(currentDir(dirA, "tidx_eua", p)).size ==
          fileHashes(currentDir(dirB, "tidx_eub", p)).size,
        s"$p file count diverges from the delete twin (empty ingest " +
          "deltas staged?)")
    }
    assert(searchOf("tidx_eua") == searchOf("tidx_eub"))
    // two ingest rows for one id would merge into one phantom doc
    // with double-counted tf/dl — refused loudly
    val one = docs.filter(col("doc_id") === 1)
    val e = intercept[IllegalArgumentException] {
      TextIndex.upsert(spark, "tidx_eua", one.union(one), "doc_id",
        "text")
    }
    assert(e.getMessage.contains("duplicate ids"))
  }

  test("delete equals a rebuild over survivors; untouched tok-bucket files byte-identical") {
    val dir = tmpBase("del")
    TextIndex.build(spark, docs, "doc_id", "text", "tidx_del",
      nBuckets = 4, baseDir = Some(dir))
    val delDocs = docs.filter(col("doc_id") % 3 === 0)
    // touched tok buckets, from the deleted docs' own tokens
    val touched = delDocs
      .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .select(pmod(hash(col("tok")), lit(4))).distinct()
      .as[Int].collect().toSet
    val bucketRe = """.*_(\d+)(?:\..*)?$""".r
    def bOf(n: String): Int =
      n match { case bucketRe(b) => b.toInt; case _ => -1 }
    val before = fileHashes(currentDir(dir, "tidx_del", "postings"))

    TextIndex.delete(spark, "tidx_del",
      delDocs.select(col("doc_id")), "doc_id")

    val after = fileHashes(currentDir(dir, "tidx_del", "postings"))
    val (wasTouched, wasKept) =
      before.partition { case (n, _) => touched.contains(bOf(n)) }
    // with a real vocabulary most buckets are touched; the law needs
    // at least the partition to be non-degenerate on one side
    assert(wasTouched.nonEmpty)
    for ((n, h) <- wasKept)
      assert(after.get(n).contains(h), s"untouched file $n changed")
    for ((n, _) <- wasTouched)
      assert(!after.contains(n), s"touched file $n not rewritten")
    // exactness: search == in-plan BM25 over the survivors (stats
    // corrected by negative deltas, not recomputed)
    val got = searchOf("tidx_del")
    assert(got.nonEmpty &&
      got == inPlan(docs.filter(col("doc_id") % 3 =!= 0)))
    // cross-session portability: drop every catalog entry, re-attach
    // from files (bucketing spec included), serve identically — and
    // the re-attached serving scan is still bucket-pruned
    for (p <- Seq("postings", "dl", "stats", "meta"))
      spark.sql(s"DROP TABLE IF EXISTS tidx_del_$p")
    TextIndex.register(spark, "tidx_del", dir)
    assert(searchOf("tidx_del") == got)
    val servePlan = TextIndex.search(spark, "tidx_del", k = 10)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(servePlan.contains("SelectedBucketsCount"),
      "re-attached serving scan lost bucket pruning")
  }

  test("compact collapses delta files and the stats chain; search unchanged; register still resolves") {
    val dir = tmpBase("cmp")
    val third = docs.filter(col("doc_id") % 3 === 0)
    TextIndex.build(spark, docs.filter(col("doc_id") % 3 === 1),
      "doc_id", "text", "tidx_cmp", nBuckets = 4, baseDir = Some(dir))
    TextIndex.append(spark, "tidx_cmp",
      docs.filter(col("doc_id") % 3 === 2), "doc_id", "text")
    TextIndex.append(spark, "tidx_cmp", third, "doc_id", "text")
    TextIndex.delete(spark, "tidx_cmp", third.select(col("doc_id")),
      "doc_id")
    val before = searchOf("tidx_cmp")
    val statsRowsBefore = spark.table("tidx_cmp_stats").count()

    TextIndex.compact(spark, "tidx_cmp")

    // search byte-for-byte unchanged (sums are sums)
    assert(searchOf("tidx_cmp") == before)
    // the stats delta chain merged: one row per live term, all df > 0
    // (the deleted third's +df/-df pairs cancelled and were dropped)
    val stats = spark.table("tidx_cmp_stats")
    assert(stats.count() < statsRowsBefore)
    assert(stats.groupBy("tok").count().filter(col("count") > 1).count() == 0)
    assert(stats.filter(col("df") <= 0).count() == 0)
    // meta collapsed to one row carrying the same sums
    assert(spark.table("tidx_cmp_meta").count() == 1)
    // file count re-pinned: ≤ one file per bucket per part
    for (p <- Seq("postings", "dl", "stats")) {
      import scala.collection.JavaConverters._
      val loc = java.nio.file.Paths.get(currentDir(dir, "tidx_cmp", p))
      val files = java.nio.file.Files.list(loc).iterator().asScala
        .count { f =>
          val n = f.getFileName.toString
          java.nio.file.Files.isRegularFile(f) &&
            !n.startsWith("_") && !n.startsWith(".")
        }
      assert(files <= 4, s"$p has $files files after compact")
    }
    // a fresh catalog resolves the compacted layout
    for (p <- Seq("postings", "dl", "stats", "meta"))
      spark.sql(s"DROP TABLE IF EXISTS tidx_cmp_$p")
    TextIndex.register(spark, "tidx_cmp", dir)
    assert(searchOf("tidx_cmp") == before)
  }

  test("a crashed maintenance attempt is invisible: orphans don't change serving; register resolves via the state file") {
    val dir = tmpBase("crash")
    TextIndex.build(spark, docs, "doc_id", "text", "tidx_cr",
      nBuckets = 4, baseDir = Some(dir))
    val before = searchOf("tidx_cr")
    // simulate a maintenance run that died between populating fresh
    // generation dirs and the atomic state swap: orphan generation
    // siblings + staging junk exist, the state file still names the
    // committed generation
    val idx = java.nio.file.Paths.get(s"$dir/tidx_cr")
    for (p <- Seq("postings", "dl", "stats", "meta")) {
      val orphan = idx.resolve(s"${p}_g9_deadbeef")
      Files.createDirectories(orphan)
      Files.writeString(orphan.resolve("part-junk_00001.parquet"), "junk")
    }
    Files.createDirectories(idx.resolve(".staging").resolve("postings_ab"))
    // the pre-fix register required exactly ONE live dir per part and
    // would throw here; state-file resolution ignores the orphans
    for (p <- Seq("postings", "dl", "stats", "meta"))
      spark.sql(s"DROP TABLE IF EXISTS tidx_cr_$p")
    TextIndex.register(spark, "tidx_cr", dir)
    assert(searchOf("tidx_cr") == before)
    // the next committed maintenance sweeps the crashed attempt
    TextIndex.append(spark, "tidx_cr",
      docs.limit(0), "doc_id", "text") // all-known/empty: no commit, no sweep needed
    TextIndex.delete(spark, "tidx_cr",
      docs.limit(5).select(col("doc_id")), "doc_id")
    val left = Files.list(idx).iterator().asScala
      .map(_.getFileName.toString).toSet
    assert(!left.exists(_.endsWith("_g9_deadbeef")),
      "committed maintenance did not sweep the crashed attempt")
    assert(!left.contains(".staging"))
  }

  test("batch commit markers: a replayed batchId is an O(1) no-op; the atomic swap keeps the four tables in step") {
    val dir = tmpBase("batch")
    val even = docs.filter(col("doc_id") % 2 === 0)
    val odd = docs.filter(col("doc_id") % 2 === 1)
    TextIndex.build(spark, even, "doc_id", "text", "tidx_b",
      nBuckets = 4, baseDir = Some(dir))
    TextIndex.append(spark, "tidx_b", odd, "doc_id", "text",
      batchId = Some("ing1"))
    val got = searchOf("tidx_b")
    assert(got == inPlan(docs))
    val hashesAfter = fileHashes(s"$dir/tidx_b")
    // a redelivery of the SAME batch id must not even look at the
    // input — pass a frame whose ingestion would corrupt the stats if
    // it were applied (docs already present, counted twice)
    TextIndex.append(spark, "tidx_b", docs, "doc_id", "text",
      batchId = Some("ing1"))
    assert(fileHashes(s"$dir/tidx_b") == hashesAfter,
      "replayed batch id touched the artifact")
    assert(searchOf("tidx_b") == got)
    // same for a takedown replay
    val third = docs.filter(col("doc_id") % 3 === 0)
    TextIndex.delete(spark, "tidx_b", third.select(col("doc_id")),
      "doc_id", batchId = Some("del1"))
    val gotDel = searchOf("tidx_b")
    assert(gotDel == inPlan(docs.filter(col("doc_id") % 3 =!= 0)))
    val delHashes = fileHashes(s"$dir/tidx_b")
    TextIndex.delete(spark, "tidx_b", docs.select(col("doc_id")),
      "doc_id", batchId = Some("del1")) // replayed id, hostile input
    assert(fileHashes(s"$dir/tidx_b") == delHashes)
    assert(searchOf("tidx_b") == gotDel)
    // a rebuild is a NEW index: old markers must not short-circuit
    TextIndex.build(spark, even, "doc_id", "text", "tidx_b",
      nBuckets = 4, baseDir = Some(dir))
    TextIndex.append(spark, "tidx_b", odd, "doc_id", "text",
      batchId = Some("ing1"))
    assert(searchOf("tidx_b") == got)
  }

  test("the atomic swap commits the stats/meta corrections WITH the rewrite: generation numbers agree across all four parts") {
    val dir = tmpBase("atomic")
    TextIndex.build(spark, docs, "doc_id", "text", "tidx_at",
      nBuckets = 4, baseDir = Some(dir))
    val st0 = Generations.load(s"$dir/tidx_at").get
    assert(st0.gen == 0 && st0.current.values.flatten.toSet ==
      Set("postings", "dl", "stats", "meta"))
    TextIndex.delete(spark, "tidx_at",
      docs.filter(col("doc_id") % 3 === 0).select(col("doc_id")), "doc_id")
    val st1 = Generations.load(s"$dir/tidx_at").get
    assert(st1.gen == 1)
    // ONE commit: every part's current dir carries the same generation
    // tag — there is no state where postings moved but stats/meta
    // lagged (the advice-r13 df/N inflation window)
    for (p <- Seq("postings", "dl", "stats", "meta"))
      assert(st1.dir(p).startsWith(s"${p}_g1_"),
        s"$p not committed at gen 1: ${st1.dir(p)}")
    // and the four generation dirs share one commit uid
    val uids = st1.current.map { case (pn, ds) => ds.head.stripPrefix(s"${pn}_g1_") }
    assert(uids.toSet.size == 1)
    // served scores reflect the corrected stats (survivor-exactness is
    // pinned by the delete law test; here just the consistency probe)
    assert(searchOf("tidx_at") ==
      inPlan(docs.filter(col("doc_id") % 3 =!= 0)))
  }

  test("positional part (X150): phrase serving equals in-plan; exact under append + takedown; still bucket-pruned after register") {
    val dir = tmpBase("pos")
    def phraseOf(name: String) =
      TextIndex.searchPhrase(spark, name, k = 10)
        .as[(Long, Long, Long, Long)].collect()
        .sortBy(r => (r._1, r._2)).toSeq
    def inPlanPhrase(corpus: org.apache.spark.sql.DataFrame) =
      Retrieval.phraseTopK(corpus, "doc_id", "text", k = 10)
        .as[(Long, Long, Long, Long)].collect()
        .sortBy(r => (r._1, r._2)).toSeq
    TextIndex.build(spark, docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", "tidx_pos", nBuckets = 4, baseDir = Some(dir),
      positions = true)
    TextIndex.append(spark, "tidx_pos",
      docs.filter(col("doc_id") % 2 === 1), "doc_id", "text")
    // positions are rows, so maintenance is exact by construction:
    // phrase-after-append == in-plan over the union; the BM25 side is
    // unaffected by the fifth part
    val gotUnion = phraseOf("tidx_pos")
    assert(gotUnion.nonEmpty && gotUnion == inPlanPhrase(docs))
    assert(searchOf("tidx_pos") == inPlan(docs))
    TextIndex.delete(spark, "tidx_pos",
      docs.filter(col("doc_id") % 3 === 0).select(col("doc_id")),
      "doc_id")
    val survivors = docs.filter(col("doc_id") % 3 =!= 0)
    val got = phraseOf("tidx_pos")
    assert(got.nonEmpty && got == inPlanPhrase(survivors))
    assert(searchOf("tidx_pos") == inPlan(survivors))
    // the five-part artifact re-attaches cross-session and the phrase
    // serve plan is bucket-pruned with no tokenize stage
    for (p <- Seq("postings", "dl", "stats", "meta", "pos"))
      spark.sql(s"DROP TABLE IF EXISTS tidx_pos_$p")
    TextIndex.register(spark, "tidx_pos", dir)
    assert(phraseOf("tidx_pos") == got)
    val plan = TextIndex.searchPhrase(spark, "tidx_pos", k = 10)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("SelectedBucketsCount"),
      "phrase serve plan lost bucket pruning")
    assert(!plan.toLowerCase.contains("posexplode"),
      "phrase serve plan re-tokenizes the corpus")
    // the proximity serve (X151) reads the same part and equals the
    // in-plan operator over the survivors
    val gotNear = TextIndex.searchNear(spark, "tidx_pos", k = 10)
      .as[(Long, Long, Long, Long)].collect()
      .sortBy(r => (r._1, r._2)).toSeq
    val wantNear = Retrieval.nearTopK(survivors, "doc_id", "text",
        k = 10)
      .as[(Long, Long, Long, Long)].collect()
      .sortBy(r => (r._1, r._2)).toSeq
    assert(gotNear.nonEmpty && gotNear == wantNear)
    // KWIC serving (X153) from the same part — snippets included
    val gotKwic = TextIndex.searchKwic(spark, "tidx_pos", survivors,
        "doc_id", "text", k = 5)
      .as[(Long, Long, Long, Long, String)].collect()
      .sortBy(r => (r._1, r._2)).toSeq
    val wantKwic = Retrieval.kwicTopK(survivors, "doc_id", "text",
        k = 5)
      .as[(Long, Long, Long, Long, String)].collect()
      .sortBy(r => (r._1, r._2)).toSeq
    assert(gotKwic.nonEmpty && gotKwic == wantKwic)
  }

  test("phrase-targeted takedown (X152): matching docs leave, serving equals a build over the rest") {
    val dir = tmpBase("tk")
    TextIndex.build(spark, docs, "doc_id", "text", "tidx_tk",
      nBuckets = 4, baseDir = Some(dir), positions = true)
    val phrase = Seq("data", "slow")
    val matches = TextIndex.phraseMatchIds(spark, "tidx_tk", phrase)
      .as[Long].collect().toSet
    assert(matches.nonEmpty, "fixture phrase matches nothing")
    TextIndex.deleteMatchingPhrase(spark, "tidx_tk", phrase,
      batchId = Some("tk1"))
    // the matching docs are gone from serving; BM25 equals a build
    // over the non-matching docs, and the phrase now matches nothing
    assert(TextIndex.phraseMatchIds(spark, "tidx_tk", phrase)
      .as[Long].collect().isEmpty)
    val rest = docs.filter(!col("doc_id").isin(matches.toSeq: _*))
    assert(searchOf("tidx_tk") == inPlan(rest))
    // replaying the takedown batch is an O(1) no-op
    val hashes = fileHashes(s"$dir/tidx_tk")
    TextIndex.deleteMatchingPhrase(spark, "tidx_tk", phrase,
      batchId = Some("tk1"))
    assert(fileHashes(s"$dir/tidx_tk") == hashes)
  }

  test("full takedown leaves a legal EMPTY index: replayed delete and compact survive zero-file generations (review r14)") {
    val dir = tmpBase("empty")
    TextIndex.build(spark, docs.filter(col("doc_id") < 30), "doc_id",
      "text", "tidx_mt", nBuckets = 4, baseDir = Some(dir),
      positions = true)
    val all = docs.filter(col("doc_id") < 30).select(col("doc_id"))
    TextIndex.delete(spark, "tidx_mt", all, "doc_id")
    assert(searchOf("tidx_mt").isEmpty)
    // a replayed takedown reads the (legally empty) generation dirs —
    // schema inference would throw here; declared-schema reads no-op
    TextIndex.delete(spark, "tidx_mt", all, "doc_id")
    assert(searchOf("tidx_mt").isEmpty)
    // compact over the emptied index is legal too
    TextIndex.compact(spark, "tidx_mt")
    assert(searchOf("tidx_mt").isEmpty)
    // and the emptied index still accepts new docs exactly
    TextIndex.append(spark, "tidx_mt",
      docs.filter(col("doc_id").between(30, 59)), "doc_id", "text")
    assert(searchOf("tidx_mt") ==
      inPlan(docs.filter(col("doc_id").between(30, 59))))
  }

  test("a rebuild without positions retires the stale pos table; register drops parts absent from the state (review r14)") {
    val dir = tmpBase("stale")
    TextIndex.build(spark, docs, "doc_id", "text", "tidx_st",
      nBuckets = 4, baseDir = Some(dir), positions = true)
    assert(spark.catalog.tableExists("tidx_st_pos"))
    TextIndex.build(spark, docs, "doc_id", "text", "tidx_st",
      nBuckets = 4, baseDir = Some(dir))
    // the catalog must not report positional support the files lost
    assert(!spark.catalog.tableExists("tidx_st_pos"))
    assert(searchOf("tidx_st") == inPlan(docs))
    // register path: plant a stale pos entry, re-attach from files
    spark.sql("CREATE TABLE tidx_st_pos (tok STRING, id BIGINT, pos INT) USING parquet " +
      s"LOCATION '$dir/tidx_st/goneland'")
    TextIndex.register(spark, "tidx_st", dir)
    assert(!spark.catalog.tableExists("tidx_st_pos"))
  }

  test("grace windows + describe: retired generations survive exactly `grace` further commits; serving always current") {
    val dir = tmpBase("grace")
    def quarter(q: Int) = docs.filter(col("doc_id") % 4 === q)
    TextIndex.build(spark, quarter(0), "doc_id", "text", "tidx_gr",
      nBuckets = 4, baseDir = Some(dir))
    val idx = s"$dir/tidx_gr"
    def dirsOf(st: Generations.State) = st.current.values.flatten.toSet
    def onDisk(names: Set[String]) = names.forall(n =>
      java.nio.file.Files.isDirectory(java.nio.file.Paths.get(idx, n)))
    val gen0 = dirsOf(Generations.load(idx).get)

    // commit 1 carries grace=2: gen0 is retired but KEPT — a reader
    // that resolved the old state keeps a complete file set
    TextIndex.append(spark, "tidx_gr", quarter(1), "doc_id", "text",
      graceCommits = 2)
    val gen1 = dirsOf(Generations.load(idx).get)
    assert(onDisk(gen0), "graced generation swept early")
    val d1 = TextIndex.describe(spark, "tidx_gr").collect()
    assert(d1.length == 4)
    assert(d1.forall(r => r.getAs[Long]("gen") == 1 &&
      r.getAs[Int]("grace") == 2 && r.getAs[Long]("n_retired") == 1 &&
      r.getAs[Long]("n_files") > 0))

    // commit 2 at DEFAULT grace: the committed policy (2) wins — a
    // default-grace maintainer cannot expire a promised snapshot
    TextIndex.append(spark, "tidx_gr", quarter(2), "doc_id", "text")
    assert(onDisk(gen0) && onDisk(gen1))

    // commit 3: gen0 leaves the window and is reclaimed; gen1/gen2
    // stay; serving is the full union throughout
    val gen2 = dirsOf(Generations.load(idx).get)
    TextIndex.append(spark, "tidx_gr", quarter(3), "doc_id", "text")
    assert(!gen0.exists(n =>
      java.nio.file.Files.isDirectory(java.nio.file.Paths.get(idx, n))),
      "expired generation not reclaimed")
    assert(onDisk(gen1) && onDisk(gen2))
    assert(searchOf("tidx_gr") == inPlan(docs))
    // register still resolves the CURRENT generation under retirees
    for (p <- Seq("postings", "dl", "stats", "meta"))
      spark.sql(s"DROP TABLE IF EXISTS tidx_gr_$p")
    TextIndex.register(spark, "tidx_gr", dir)
    assert(searchOf("tidx_gr") == inPlan(docs))
  }

  test("compact(resetGrace) lowers the committed grace ratchet; retirees outside the new window are reclaimed (advice r14)") {
    val dir = tmpBase("grl")
    TextIndex.build(spark, docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", "tidx_grl", nBuckets = 4, baseDir = Some(dir))
    val idx = s"$dir/tidx_grl"
    TextIndex.append(spark, "tidx_grl",
      docs.filter(col("doc_id") % 2 === 1), "doc_id", "text",
      graceCommits = 3)
    assert(Generations.load(idx).get.grace == 3)
    // the ratchet still holds for every NON-reset op
    TextIndex.compact(spark, "tidx_grl")
    assert(Generations.load(idx).get.grace == 3)
    assert(Generations.load(idx).get.retired.nonEmpty)
    // the explicit operator action lowers it — and the sweep reclaims
    // everything the narrower window no longer covers
    TextIndex.compact(spark, "tidx_grl", graceCommits = 0,
      resetGrace = true)
    val st = Generations.load(idx).get
    assert(st.grace == 0 && st.retired.isEmpty)
    assert(searchOf("tidx_grl") == inPlan(docs))
  }

  test("replay markers stay bounded: per-namespace high-watermark pruning + compact's horizon reclaim (advice r14)") {
    val dir = tmpBase("mk")
    TextIndex.build(spark, docs.filter(col("doc_id") < 10), "doc_id",
      "text", "tidx_mk", nBuckets = 4, baseDir = Some(dir))
    val commits = java.nio.file.Paths.get(s"$dir/tidx_mk", "_commits")
    def markers() = Files.list(commits).iterator().asScala
      .map(_.getFileName.toString).toSeq.sorted
    // 7 epochs on one STREAM namespace + 1 on another: the first
    // namespace keeps only its newest 4 markers, the other untouched
    (0 until 7).foreach { e =>
      TextIndex.append(spark, "tidx_mk",
        docs.filter(col("doc_id") === (10 + e)), "doc_id", "text",
        batchId = Some(s"ingaaaa0000_$e"))
    }
    TextIndex.append(spark, "tidx_mk",
      docs.filter(col("doc_id") === 20), "doc_id", "text",
      batchId = Some(s"delbbbb0000_0"))
    assert(markers() == Seq("delbbbb0000_0", "ingaaaa0000_3",
      "ingaaaa0000_4", "ingaaaa0000_5", "ingaaaa0000_6"))
    // a replay of a PRUNED epoch is still safe — the content guards
    // drop the already-known ids (the marker was only the fast path)
    val before = searchOf("tidx_mk")
    TextIndex.append(spark, "tidx_mk",
      docs.filter(col("doc_id") === 11), "doc_id", "text",
      batchId = Some(s"ingaaaa0000_1"))
    assert(searchOf("tidx_mk") == before)
    // compact's horizon pass reclaims abandoned namespaces wholesale
    TextIndex.compact(spark, "tidx_mk", markerHorizonMs = 0L)
    assert(markers().isEmpty)
  }

  test("manual batchIds are NOT high-watermark pruned: a late retry of an old job cannot re-apply stale content (advice r15)") {
    val dir = tmpBase("mb")
    TextIndex.build(spark, docs.filter(col("doc_id") < 10), "doc_id",
      "text", "tidx_mb", nBuckets = 4, baseDir = Some(dir))
    val commits = java.nio.file.Paths.get(s"$dir/tidx_mb", "_commits")
    def markers() = Files.list(commits).iterator().asScala
      .map(_.getFileName.toString).toSeq.sorted
    // job_1 upserts doc 3 with STALE content, then 6 newer same-prefix
    // jobs land — under the old any-`<prefix>_<digits>` rule job_1's
    // marker would be pruned here, and because upsert REPLACES, a late
    // retry would overwrite job_7's fresh content with job_1's stale
    // copy (the content guards can't catch a replace)
    val stale = spark.range(1).select(lit(3L).as("doc_id"),
      lit("stale content from job one").as("text"))
    TextIndex.upsert(spark, "tidx_mb", stale, "doc_id", "text",
      batchId = Some("job_1"))
    (2 to 6).foreach { j =>
      TextIndex.append(spark, "tidx_mb",
        docs.filter(col("doc_id") === (10 + j)), "doc_id", "text",
        batchId = Some(s"job_$j"))
    }
    val fresh = spark.range(1).select(lit(3L).as("doc_id"),
      lit("fresh content from job seven").as("text"))
    TextIndex.upsert(spark, "tidx_mb", fresh, "doc_id", "text",
      batchId = Some("job_7"))
    // all seven manual markers survive (only stream-shaped names are
    // high-watermark pruned)
    assert(markers() == (1 to 7).map(j => s"job_$j"))
    // the late retry of job_1 is an O(1) marker no-op: doc 3 still
    // serves job_7's content
    val before = searchOf("tidx_mb")
    TextIndex.upsert(spark, "tidx_mb", stale, "doc_id", "text",
      batchId = Some("job_1"))
    assert(searchOf("tidx_mb") == before)
    // the age-horizon reclaim (an explicit operator action with a
    // documented horizon) still bounds manual markers
    TextIndex.compact(spark, "tidx_mb", markerHorizonMs = 0L)
    assert(markers().isEmpty)
  }

  test("stream-namespace identity: URI checkpoints keep scheme+authority, local spellings collapse (advice r15)") {
    val ns = graft.streaming.TextIndexStream.ns _
    // URI-style locations normalize as URIs — Paths.get would have
    // collapsed scheme+authority into a cwd-relative path
    assert(ns("hdfs://nn:8020/ckpt/a/../b/") == ns("hdfs://nn:8020/ckpt/b"))
    assert(ns("s3a://bucket/ckpt") != ns("s3a://other/ckpt"))
    // the namespace must NOT depend on the JVM cwd for URI locations
    assert(ns("hdfs://nn:8020/ckpt") ==
      ns("hdfs://nn:8020/x/../ckpt"))
    // scheme-less local paths: relative resolves against the cwd (it
    // IS a cwd-relative directory), spellings of one dir collapse
    val cwd = java.nio.file.Paths.get("").toAbsolutePath.toString
    assert(ns("ckpt/sub") == ns(s"$cwd/ckpt/sub"))
    assert(ns(s"$cwd/ckpt/./sub/") == ns(s"$cwd/ckpt/sub"))
  }

  test("a legacy (pre-state-file) artifact migrates ON REGISTER; maintenance without a state file is refused (r14 verdict #3)") {
    val dir = tmpBase("leg")
    TextIndex.build(spark, docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", "tidx_leg", nBuckets = 4, baseDir = Some(dir))
    val idx = s"$dir/tidx_leg"
    // forge the legacy layout: canonical part dirs, NO state file
    Files.delete(java.nio.file.Paths.get(idx, Generations.StateFile))
    // maintenance must refuse directory-guessing outright
    val e = intercept[RuntimeException] {
      TextIndex.append(spark, "tidx_leg",
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text")
    }
    assert(e.getMessage.contains("register"))
    // register migrates once: resolves the single live dirs, COMMITS a
    // state file, and everything downstream works the modern way
    for (p <- Seq("postings", "dl", "stats", "meta"))
      spark.sql(s"DROP TABLE IF EXISTS tidx_leg_$p")
    TextIndex.register(spark, "tidx_leg", dir)
    val st = Generations.load(idx)
    assert(st.isDefined && st.get.gen == 0L &&
      st.get.current("postings") == Seq("postings"))
    TextIndex.append(spark, "tidx_leg",
      docs.filter(col("doc_id") % 2 === 1), "doc_id", "text")
    assert(searchOf("tidx_leg") == inPlan(docs))
  }

  test("upsert (X156): replace + insert + takedown land in ONE atomic commit equal to the rebuild; marked replay is a no-op, un-marked replay converges") {
    val dir = tmpBase("ups")
    TextIndex.build(spark, docs, "doc_id", "text", "tidx_ups",
      nBuckets = 4, baseDir = Some(dir), positions = true)
    val idx = s"$dir/tidx_ups"

    val rows = docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    // %4==0 keys get replacement text, two brand-new ids are inserted,
    // %5==1 keys are tombstoned; id 16 is BOTH (%4==0 and %5==1) — the
    // ingest side wins by the documented order (remove all, then add)
    val replaced = rows.collect { case (i, t) if i % 4 == 0 =>
      (i, s"updated vector text $i") }
    val inserted = Seq((9001L, "brand new hash doc"),
      (9002L, "another fresh scan doc"))
    val ups = (replaced ++ inserted).toDF("doc_id", "text")
    val dels = rows.map(_._1).filter(_ % 5 == 1).toDF("doc_id")

    val gen0 = Generations.load(idx).get.gen
    TextIndex.upsert(spark, "tidx_ups", ups, "doc_id", "text",
      delIds = Some(dels), delCol = "doc_id", batchId = Some("ups_1"))
    assert(Generations.load(idx).get.gen == gen0 + 1,
      "upsert must be exactly ONE generation commit")

    val expected = (rows.toMap -- rows.map(_._1).filter(_ % 5 == 1)
      ++ replaced ++ inserted).toSeq.sortBy(_._1)
    val got = searchOf("tidx_ups")
    assert(got.nonEmpty && got == inPlan(expected.toDF("doc_id", "text")))
    // the positional part moved in the SAME commit: phrase serving
    // over the upserted corpus
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Long)].collect()
        .sortBy(r => (r._1, r._2)).toSeq
    assert(sorted(TextIndex.searchPhrase(spark, "tidx_ups", k = 10)) ==
      sorted(Retrieval.phraseTopK(expected.toDF("doc_id", "text"),
        "doc_id", "text", k = 10)))

    // marked replay: O(1) no-op, generation unchanged
    TextIndex.upsert(spark, "tidx_ups", ups, "doc_id", "text",
      delIds = Some(dels), delCol = "doc_id", batchId = Some("ups_1"))
    assert(Generations.load(idx).get.gen == gen0 + 1)
    // un-marked replay: removes its own rows, re-adds the same content
    // — one more generation, identical serving
    TextIndex.upsert(spark, "tidx_ups", ups, "doc_id", "text",
      delIds = Some(dels), delCol = "doc_id")
    assert(Generations.load(idx).get.gen == gen0 + 2)
    assert(searchOf("tidx_ups") == got)
  }

  test("maybeCompact: over-threshold delta chains collapse through the same atomic commit; serving bit-identical; under-threshold is a no-op") {
    val dir = tmpBase("ac")
    TextIndex.build(spark, docs.filter(col("doc_id") % 4 === 0),
      "doc_id", "text", "tidx_ac", nBuckets = 4, baseDir = Some(dir))
    (1 to 3).foreach { q =>
      TextIndex.append(spark, "tidx_ac",
        docs.filter(col("doc_id") % 4 === q), "doc_id", "text")
    }
    val idx = s"$dir/tidx_ac"
    def maxFiles(): Int = Generations.load(idx).get.current.values.flatten.map {
      d => Files.list(java.nio.file.Paths.get(idx, d)).iterator().asScala
        .count { f =>
          val n = f.getFileName.toString
          !n.startsWith("_") && !n.startsWith(".")
        }
    }.max
    assert(maxFiles() > 6, "delta chain should have accreted files")
    val before = searchOf("tidx_ac")
    assert(TextIndex.maybeCompact(spark, "tidx_ac", maxFilesPerPart = 6))
    assert(maxFiles() <= 4, "compact leaves ≤ one file per bucket")
    assert(searchOf("tidx_ac") == before)
    // now under threshold: the check is a filesystem-metadata no-op
    val gen = Generations.load(idx).get.gen
    assert(!TextIndex.maybeCompact(spark, "tidx_ac", maxFilesPerPart = 6))
    assert(Generations.load(idx).get.gen == gen)
  }
}
