package graft

import java.nio.file.{Files, Path}
import java.security.MessageDigest

import scala.collection.JavaConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops._

/** Persisted ANN index: the build/search split, the encode-only
  * append delta, and the byte-level untouched-files guarantee.
  * (The search's bit-identity with the in-plan q_sim_ivfpq is proven
  * end-to-end by the shared DuckDB oracle; here against the in-plan
  * operator directly.)
  */
class IndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private def embs = cdc.Io.table(spark, sf, "embeddings")

  private def tmpBase(tag: String): String =
    Files.createTempDirectory(s"graft_idx_$tag").toString

  /** (relative path → md5) of every data file under `dir`. */
  private def fileHashes(dir: String): Map[String, String] = {
    val root = java.nio.file.Paths.get(dir)
    Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p))
      // skip _SUCCESS markers and hidden sidecars (.crc checksums):
      // the committed artifact is the parquet data-file set
      .filterNot { p =>
        val n = p.getFileName.toString
        n.startsWith("_") || n.startsWith(".")
      }
      .map { p =>
        val md5 = MessageDigest.getInstance("MD5")
          .digest(Files.readAllBytes(p))
          .map("%02x".format(_)).mkString
        root.relativize(p).toString -> md5
      }.toMap
  }

  test("search over the persisted index equals the in-plan IVF×PQ search bit-for-bit") {
    Index.build(spark, embs, "vec_id", "embedding", "label", "idx_eq",
      itersIvf = 2, massign = 2, m = 16, ksub = 32, itersPq = 1,
      nBuckets = 4, baseDir = Some(tmpBase("eq")))
    val fromIndex = Index.search(spark, "idx_eq", embs, "vec_id",
        "embedding", col("vec_id") < 4, k = 3, nprobe = 3, rerank = 20)
      .orderBy("qid", "rank")
      .as[(Long, Long, Long, Long)].collect().toSeq
    val inPlan = Pq.ivfPqTopK(embs, "vec_id", "embedding", "label",
        col("vec_id") < 4, k = 3, nprobe = 3, itersIvf = 2, massign = 2,
        m = 16, ksub = 32, itersPq = 1, rerank = 20)
      .orderBy("qid", "rank")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(fromIndex.nonEmpty && fromIndex == inPlan)
  }

  test("SQ search over the artifact equals the in-plan IVF×SQ search bit-for-bit") {
    Index.build(spark, embs, "vec_id", "embedding", "label", "idx_sq",
      itersIvf = 2, massign = 2, m = 16, ksub = 32, itersPq = 1,
      nBuckets = 4, baseDir = Some(tmpBase("sq")))
    val fromIndex = Index.searchSq(spark, "idx_sq", embs, "vec_id",
        "embedding", col("vec_id") < 4, k = 3, nprobe = 3, rerank = 20)
      .orderBy("qid", "rank")
      .as[(Long, Long, Long, Long)].collect().toSeq
    val inPlan = Sq.ivfSqTopK(embs, "vec_id", "embedding", "label",
        col("vec_id") < 4, k = 3, nprobe = 3, itersIvf = 2, massign = 2,
        rerank = 20)
      .orderBy("qid", "rank")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(fromIndex.nonEmpty && fromIndex == inPlan)
  }

  test("flat search over the artifact equals the in-plan trained-IVF top-k") {
    Index.build(spark, embs, "vec_id", "embedding", "label", "idx_flat",
      itersIvf = 2, massign = 2, m = 16, ksub = 32, itersPq = 1,
      nBuckets = 4, baseDir = Some(tmpBase("flat")))
    val flat = Index.searchFlat(spark, "idx_flat", embs, "vec_id",
        "embedding", col("vec_id") < 4, k = 3, nprobe = 3)
      .orderBy("qid", "rank").as[(Long, Long, Long, Long)].collect().toSeq
    val inPlan = Similarity.ivfTopKTrained(embs, "vec_id", "embedding",
        "label", col("vec_id") < 4, k = 3, nprobe = 3, iters = 2,
        massign = 2)
      .orderBy("qid", "rank").as[(Long, Long, Long, Long)].collect().toSeq
    assert(flat.nonEmpty && flat == inPlan)
  }

  test("register re-attaches an index from files in a fresh catalog; search identical, bucket layout preserved") {
    val dir = tmpBase("reg")
    Index.build(spark, embs, "vec_id", "embedding", "label", "idx_reg",
      itersIvf = 2, massign = 2, m = 16, ksub = 32, itersPq = 1,
      nBuckets = 4, baseDir = Some(dir))
    val expected = Index.search(spark, "idx_reg", embs, "vec_id",
        "embedding", col("vec_id") < 4, k = 3, nprobe = 3, rerank = 20)
      .orderBy("qid", "rank").as[(Long, Long, Long, Long)].collect().toSeq

    // simulate a later session: the catalog entries are gone, the
    // files remain
    for (p <- Seq("cents", "codebooks", "meta", "postings", "codes"))
      spark.sql(s"DROP TABLE idx_reg_$p")
    assert(!Index.exists(spark, "idx_reg"))

    Index.register(spark, "idx_reg", dir)
    val reattached = Index.search(spark, "idx_reg", embs, "vec_id",
        "embedding", col("vec_id") < 4, k = 3, nprobe = 3, rerank = 20)
      .orderBy("qid", "rank").as[(Long, Long, Long, Long)].collect().toSeq
    assert(reattached.nonEmpty && reattached == expected)
    // the re-created entries carry the bucket spec — the zero-exchange
    // layout survives re-attachment
    import org.apache.spark.sql.execution.FileSourceScanExec
    val scan = spark.table("idx_reg_postings").queryExecution.executedPlan
      .collectFirst { case f: FileSourceScanExec => f }
    assert(scan.exists(_.relation.bucketSpec.exists(_.numBuckets == 4)))

    // compaction moves the rewritten parts to sibling directories —
    // a later session's register must resolve them
    Index.compact(spark, "idx_reg")
    for (p <- Seq("cents", "codebooks", "meta", "postings", "codes"))
      spark.sql(s"DROP TABLE idx_reg_$p")
    Index.register(spark, "idx_reg", dir)
    val afterCompact = Index.search(spark, "idx_reg", embs, "vec_id",
        "embedding", col("vec_id") < 4, k = 3, nprobe = 3, rerank = 20)
      .orderBy("qid", "rank").as[(Long, Long, Long, Long)].collect().toSeq
    assert(afterCompact == expected)
  }

  test("compact re-pins one file per bucket after appends; search identical") {
    val dir = tmpBase("cmp")
    val thirds = (0 to 2).map(r => embs.filter(col("vec_id") % 3 === r))
    Index.build(spark, thirds(0), "vec_id", "embedding", "label", "idx_cmp",
      itersIvf = 1, massign = 2, m = 16, ksub = 32, itersPq = 1,
      nBuckets = 4, baseDir = Some(dir))
    Index.appendInPlace(spark, "idx_cmp", thirds(1), "vec_id", "embedding")
    Index.appendInPlace(spark, "idx_cmp", thirds(2), "vec_id", "embedding")

    def search() = Index.search(spark, "idx_cmp", embs, "vec_id",
        "embedding", col("vec_id") < 4, k = 3, nprobe = 3, rerank = 20)
      .orderBy("qid", "rank").as[(Long, Long, Long, Long)].collect().toSeq
    def dataFiles(tbl: String): Seq[String] =
      spark.table(tbl).inputFiles.toSeq

    val before = search()
    val filesBefore = dataFiles("idx_cmp_postings").size
    assert(filesBefore > 4) // build + 2 appends
    // describe reads the same story from the filesystem alone
    val d1 = Index.describe(spark, "idx_cmp")
      .as[(String, String, Long, Int, Long, Long, Long, Long)]
      .collect().map(r => r._1 -> r).toMap
    assert(d1.keySet.size == 8)
    assert(d1("postings")._7 == filesBefore && d1("postings")._8 > 0L)
    // plain append is IN-PLACE by design (no generation commit):
    // describe shows gen 0 until a commitPart op (appendCommitted /
    // compact / delete) runs
    assert(d1("postings")._3 == 0L)
    Index.compact(spark, "idx_cmp")
    // ≤ nBuckets: an empty bucket (few distinct list ids) writes none
    assert(dataFiles("idx_cmp_postings").size <= 4)
    assert(dataFiles("idx_cmp_postings").size < filesBefore)
    assert(dataFiles("idx_cmp_codes").size == 4)
    assert(search() == before)
    val d2 = Index.describe(spark, "idx_cmp")
      .as[(String, String, Long, Int, Long, Long, Long, Long)]
      .collect().map(r => r._1 -> r).toMap
    assert(d2("postings")._7 < filesBefore && d2("postings")._6 == 1L)
    // the old directories are gone; the catalog points at the fresh ones
    assert(!Files.exists(java.nio.file.Paths.get(s"$dir/idx_cmp/postings")))
  }

  test("appendCommitted: atomic generation commit; reader snapshot survives grace; equals in-place append") {
    val dir = tmpBase("gen")
    val thirds = (0 to 2).map(r => embs.filter(col("vec_id") % 3 === r))
    Index.build(spark, thirds(0), "vec_id", "embedding", "label", "idx_gen",
      itersIvf = 1, massign = 2, m = 16, ksub = 32, itersPq = 1,
      nBuckets = 4, baseDir = Some(dir))
    val idxDir = s"$dir/idx_gen"
    def current(p: String) = Generations.load(idxDir).get.dir(p)

    val gen0 = current("postings")
    val gen0Hashes = fileHashes(s"$idxDir/$gen0")
    // a reader resolves its snapshot BEFORE the commit
    val snapshot = spark.read.parquet(s"$idxDir/$gen0")
      .as[(Long, Long)].collect().sorted.toSeq

    Index.appendCommitted(spark, "idx_gen", thirds(1), "vec_id", "embedding",
      graceCommits = 1)
    val gen1 = current("postings")
    assert(gen1 != gen0 && gen1.startsWith("postings_g1"))
    // the retired generation survives inside its grace window: the
    // reader's snapshot is still fully readable, bytes untouched
    assert(fileHashes(s"$idxDir/$gen0") == gen0Hashes)
    assert(spark.read.parquet(s"$idxDir/$gen0")
      .as[(Long, Long)].collect().sorted.toSeq == snapshot)
    // the new generation carries every old file (as links) + the delta
    val gen1Hashes = fileHashes(s"$idxDir/$gen1")
    val missing = gen0Hashes.filterNot { case (f, h) =>
      gen1Hashes.get(f).contains(h) }
    assert(missing.isEmpty,
      s"gen0=$gen0 gen1=$gen1 missing=$missing gen1Keys=${gen1Hashes.keySet}")
    assert(gen1Hashes.size > gen0Hashes.size)

    // second commit: the grace window (1) closes -> gen0 is swept
    Index.appendCommitted(spark, "idx_gen", thirds(2), "vec_id", "embedding",
      graceCommits = 1)
    assert(!Files.exists(java.nio.file.Paths.get(s"$idxDir/$gen0")))
    assert(Files.exists(java.nio.file.Paths.get(s"$idxDir/$gen1"))) // graced

    // the committed index serves the same search as an in-place-append
    // twin over the same halves
    val dir2 = tmpBase("gen2")
    Index.build(spark, thirds(0), "vec_id", "embedding", "label", "idx_gen2",
      itersIvf = 1, massign = 2, m = 16, ksub = 32, itersPq = 1,
      nBuckets = 4, baseDir = Some(dir2))
    Index.appendInPlace(spark, "idx_gen2", thirds(1), "vec_id", "embedding")
    Index.appendInPlace(spark, "idx_gen2", thirds(2), "vec_id", "embedding")
    def searchOf(name: String) =
      Index.search(spark, name, embs, "vec_id", "embedding",
          col("vec_id") < 4, k = 3, nprobe = 3, rerank = 20)
        .orderBy("qid", "rank").as[(Long, Long, Long, Long)].collect().toSeq
    val got = searchOf("idx_gen")
    assert(got.nonEmpty && got == searchOf("idx_gen2"))

    // register resolves the committed generation in a fresh catalog
    for (p <- Seq("cents", "codebooks", "meta", "postings", "codes"))
      spark.sql(s"DROP TABLE idx_gen_$p")
    Index.register(spark, "idx_gen", dir)
    assert(searchOf("idx_gen") == got)
  }

  test("crash before the generation commit leaves the served index untouched; the next commit sweeps the orphans") {
    val dir = tmpBase("crash")
    val thirds = (0 to 2).map(r => embs.filter(col("vec_id") % 3 === r))
    Index.build(spark, thirds(0), "vec_id", "embedding", "label", "idx_crash",
      itersIvf = 1, massign = 2, m = 16, ksub = 32, itersPq = 1,
      nBuckets = 4, baseDir = Some(dir))
    val idxDir = s"$dir/idx_crash"
    def searchOf() = Index.search(spark, "idx_crash", embs, "vec_id",
        "embedding", col("vec_id") < 4, k = 3, nprobe = 3, rerank = 20)
      .orderBy("qid", "rank").as[(Long, Long, Long, Long)].collect().toSeq
    val before = searchOf()
    val hashesBefore = fileHashes(s"$idxDir/postings")

    // simulate a writer killed during phase 1: staged delta files
    // exist, no state swap ever ran — the drip-append failure mode
    // that motivated retiring the in-place path from serving
    val staging = java.nio.file.Paths.get(idxDir, ".staging",
      "postings_deadbeef")
    Files.createDirectories(staging)
    Files.write(staging.resolve("part-00000.parquet"),
      Array[Byte](0x50, 0x41, 0x52, 0x31))
    assert(searchOf() == before, "staged orphans leaked into the served index")
    assert(Generations.load(idxDir).get.gen == 0L)
    assert(fileHashes(s"$idxDir/postings") == hashesBefore)

    // the replayed append commits atomically and sweeps the orphan
    Index.appendCommitted(spark, "idx_crash", thirds(1), "vec_id", "embedding")
    assert(!Files.exists(staging))
    assert(Generations.load(idxDir).get.gen == 1L)
    assert(searchOf().nonEmpty)
  }

  test("manifest-mode appendCommitted: zero links/copies, search byte-identical to link mode, register + compact resolve the chain") {
    val thirds = (0 to 2).map(r => embs.filter(col("vec_id") % 3 === r))
    def searchOf(name: String) =
      Index.search(spark, name, embs, "vec_id", "embedding",
          col("vec_id") < 4, k = 3, nprobe = 3, rerank = 20)
        .orderBy("qid", "rank").as[(Long, Long, Long, Long)].collect().toSeq
    def dropAll(name: String): Unit =
      for (p <- Seq("cents", "codebooks", "sq_ranges", "meta", "postings",
          "codes", "sq_codes", "bq_codes")) {
        val tbl = s"${name}_$p"
        if (spark.catalog.tableExists(tbl)) {
          if (spark.catalog.getTable(tbl).tableType == "VIEW")
            spark.sql(s"DROP VIEW $tbl")
          else spark.sql(s"DROP TABLE $tbl")
        }
      }

    // link-mode twin: same build + same deltas, hard-link generations
    val dirL = tmpBase("manL")
    Index.build(spark, thirds(0), "vec_id", "embedding", "label", "idx_manl",
      itersIvf = 1, massign = 2, m = 16, ksub = 32, itersPq = 1,
      nBuckets = 4, baseDir = Some(dirL))
    Index.appendCommitted(spark, "idx_manl", thirds(1), "vec_id", "embedding")
    Index.appendCommitted(spark, "idx_manl", thirds(2), "vec_id", "embedding")
    val expected = searchOf("idx_manl")

    val dir = tmpBase("man")
    Index.build(spark, thirds(0), "vec_id", "embedding", "label", "idx_man",
      itersIvf = 1, massign = 2, m = 16, ksub = 32, itersPq = 1,
      nBuckets = 4, baseDir = Some(dir))
    val idxDir = s"$dir/idx_man"
    val seg0Hashes = fileHashes(s"$idxDir/postings")

    Index.appendCommitted(spark, "idx_man", thirds(1), "vec_id", "embedding",
      manifestCommit = true)
    Index.appendCommitted(spark, "idx_man", thirds(2), "vec_id", "embedding",
      manifestCommit = true)

    // links disabled: the committed generation is the part's segment
    // list in the state — the base dir + one segment per delta — and
    // no linked generation directory exists
    val st = Generations.load(idxDir).get
    val segs = st.current("postings")
    assert(st.gen == 2L && segs.size == 3 && segs.head == "postings" &&
      segs.tail.forall(_.startsWith("postings_s")), s"postings spans $segs")
    val linked = Files.list(java.nio.file.Paths.get(idxDir))
      .iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("postings_g")).toSeq
    assert(linked.isEmpty, s"manifest commit linked $linked")
    // the base segment's files are untouched bytes — nothing was
    // moved, linked, or rewritten
    assert(fileHashes(s"$idxDir/postings") == seg0Hashes)

    // search over the manifest chain is byte-identical to link mode
    val got = searchOf("idx_man")
    assert(got.nonEmpty && got == expected)

    // a fresh catalog resolves the manifest through register
    dropAll("idx_man")
    Index.register(spark, "idx_man", dir)
    assert(searchOf("idx_man") == expected)

    // compact collapses the chain back to one plain bucketed dir;
    // the segments leave once no kept generation references them
    Index.compact(spark, "idx_man")
    assert(searchOf("idx_man") == expected)
    val cur = Generations.load(idxDir).get.current("postings")
    assert(cur.size == 1 && cur.head.startsWith("postings_c"))
    assert(!Files.exists(java.nio.file.Paths.get(s"$idxDir/postings")))
    import org.apache.spark.sql.execution.FileSourceScanExec
    val scan = spark.table("idx_man_postings").queryExecution.executedPlan
      .collectFirst { case f: FileSourceScanExec => f }
    assert(scan.exists(_.relation.bucketSpec.exists(_.numBuckets == 4)))
  }

  test("append encodes the delta at fixed centroids: tables equal a from-scratch encode; search matches; untouched files byte-identical") {
    val dir = tmpBase("app")
    val half1 = embs.filter(col("vec_id") % 2 === 0)
    val half2 = embs.filter(col("vec_id") % 2 === 1)

    Index.build(spark, half1, "vec_id", "embedding", "label", "idx_app",
      itersIvf = 2, massign = 2, m = 16, ksub = 32, itersPq = 1,
      nBuckets = 4, baseDir = Some(dir))
    val beforePost = fileHashes(s"$dir/idx_app/postings")
    val beforeCodes = fileHashes(s"$dir/idx_app/codes")
    val beforeBq = fileHashes(s"$dir/idx_app/bq_codes")

    Index.appendInPlace(spark, "idx_app", half2, "vec_id", "embedding")

    // committed files are never rewritten: every pre-append file still
    // exists with identical bytes, and the delta landed as NEW files
    val afterPost = fileHashes(s"$dir/idx_app/postings")
    val afterCodes = fileHashes(s"$dir/idx_app/codes")
    val afterBq = fileHashes(s"$dir/idx_app/bq_codes")
    assert(beforePost.forall { case (p, h) => afterPost.get(p).contains(h) })
    assert(beforeCodes.forall { case (p, h) => afterCodes.get(p).contains(h) })
    assert(beforeBq.forall { case (p, h) => afterBq.get(p).contains(h) })
    assert(afterPost.size > beforePost.size && afterCodes.size > beforeCodes.size
      && afterBq.size > beforeBq.size)

    // the appended tables equal an encode-from-scratch of the UNION at
    // the same (stored) centroids/codebooks — append is pure delta
    val (expPost, expCodes, expSq, expBq) = Index.encode(spark, "idx_app", embs,
      "vec_id", "embedding")
    assert(spark.table("idx_app_postings").as[(Long, Long)].collect().sorted.toSeq
      == expPost.select(col("cl").cast("long"), col("id")).as[(Long, Long)]
        .collect().sorted.toSeq)
    assert(spark.table("idx_app_codes").as[(Long, Int, Long)].collect().sorted.toSeq
      == expCodes.select(col("id"), col("m"), col("cl").cast("long"))
        .as[(Long, Int, Long)].collect().sorted.toSeq)
    def sqRows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id"), col("code")).as[(Long, Seq[Int])].collect()
        .map { case (i, c) => (i, c.mkString(",")) }.sorted.toSeq
    assert(sqRows(spark.table("idx_app_sq_codes")) == sqRows(expSq))
    assert(spark.table("idx_app_bq_codes").as[(Long, Long)].collect()
      .sorted.toSeq
      == expBq.as[(Long, Long)].collect().sorted.toSeq)

    // the appended BQ tier serves the same search as the in-plan
    // Bq.topK over the union corpus (no trained params — appends are
    // bit-identical to a rebuild)
    val bqFromIndex = Index.searchBq(spark, "idx_app", embs, "vec_id",
        "embedding", col("vec_id") < 4, k = 3, rerank = 20)
      .orderBy("qid", "rank").as[(Long, Long, Long, Long)].collect().toSeq
    val bqInPlan = Bq.topK(embs, "vec_id", "embedding",
        col("vec_id") < 4, k = 3, rerank = 20)
      .orderBy("qid", "rank").as[(Long, Long, Long, Long)].collect().toSeq
    assert(bqFromIndex.nonEmpty && bqFromIndex == bqInPlan)

    // and a REBUILT index holding the same encode serves the identical
    // search: write the from-scratch union encode as a second index
    // sharing the trained artifacts, compare search output
    val dir2 = tmpBase("app2")
    spark.table("idx_app_cents").write.mode("overwrite").format("parquet")
      .option("path", s"$dir2/cents").saveAsTable("idx_app2_cents")
    spark.table("idx_app_codebooks").write.mode("overwrite").format("parquet")
      .option("path", s"$dir2/codebooks").saveAsTable("idx_app2_codebooks")
    spark.table("idx_app_meta").write.mode("overwrite").format("parquet")
      .option("path", s"$dir2/meta").saveAsTable("idx_app2_meta")
    Bucketing.writeBucketed(expPost, "idx_app2_postings", "cl", 4,
      Some(s"$dir2/postings"))
    Bucketing.writeBucketed(expCodes, "idx_app2_codes", "id", 4,
      Some(s"$dir2/codes"))
    def searchOf(name: String) =
      Index.search(spark, name, embs, "vec_id", "embedding",
          col("vec_id") < 4, k = 3, nprobe = 3, rerank = 20)
        .orderBy("qid", "rank").as[(Long, Long, Long, Long)].collect().toSeq
    val appended = searchOf("idx_app")
    assert(appended.nonEmpty && appended == searchOf("idx_app2"))
  }

  test("delete removes the ids from every part at fixed trained params; atomic commit; works over a manifest chain") {
    val dir = tmpBase("del")
    Index.build(spark, embs.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", "label", "idx_del",
      itersIvf = 2, massign = 2, m = 16, ksub = 32, itersPq = 1,
      nBuckets = 4, baseDir = Some(dir))
    // create a manifest-mode generation chain first, so delete has to
    // resolve segments through the state file, not a plain dir
    Index.appendCommitted(spark, "idx_del",
      embs.filter(col("vec_id") % 2 === 1), "vec_id", "embedding",
      manifestCommit = true)
    val partNames = Seq("postings", "codes", "sq_codes", "bq_codes")
    val before = partNames.map { p =>
      p -> spark.table(s"idx_del_$p").collect().map(_.toSeq).toSet
    }.toMap
    val delIds = embs.filter(col("vec_id") % 3 === 0).select(col("vec_id"))
    val delSet = delIds.as[Long].collect().toSet
    assert(delSet.nonEmpty)

    Index.delete(spark, "idx_del", delIds, "vec_id")

    // every part lost exactly the deleted ids' rows — nothing else
    // changed, and the trained tables were not rewritten
    for (p <- partNames) {
      val after = spark.table(s"idx_del_$p").collect().map(_.toSeq).toSet
      val idIdx = spark.table(s"idx_del_$p").columns.indexOf("id")
      val expected = before(p).filterNot(r =>
        delSet.contains(r(idIdx).asInstanceOf[Long]))
      assert(after == expected, s"part $p rows diverge after delete")
    }
    // search serves the shrunken set: no deleted id can be a neighbor
    val res = Index.search(spark, "idx_del", embs, "vec_id", "embedding",
        col("vec_id") < 4, k = 3, nprobe = 3, rerank = 20)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(res.nonEmpty)
    assert(res.forall { case (_, _, n, _) => !delSet.contains(n) })
    // the committed layout re-registers from files in a fresh catalog
    for (p <- partNames ++ Seq("cents", "codebooks", "sq_ranges", "meta"))
      spark.sql(s"DROP TABLE IF EXISTS idx_del_$p")
    Index.register(spark, "idx_del", dir)
    val res2 = Index.search(spark, "idx_del", embs, "vec_id", "embedding",
        col("vec_id") < 4, k = 3, nprobe = 3, rerank = 20)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(res2.toSet == res.toSet)
  }

  test("delete is bucket-pruned: untouched id-bucket files survive byte-identical, touched buckets are rewritten") {
    val dir = tmpBase("delprune")
    Index.build(spark, embs, "vec_id", "embedding", "label", "idx_dp",
      itersIvf = 2, massign = 2, m = 16, ksub = 32, itersPq = 1,
      nBuckets = 4, baseDir = Some(dir))
    val idxDir = s"$dir/idx_dp"
    // ONE deleted id → exactly one touched id-bucket, computed with
    // bucketBy's own hash family (murmur3 seed 42 pmod nBuckets)
    val delId = embs.select(col("vec_id").cast("long")).as[Long].head()
    val touchedBucket =
      spark.range(1).select(pmod(hash(lit(delId)), lit(4))).as[Int].head()
    val bucketRe = """.*_(\d+)(?:\..*)?$""".r
    def bucketOf(n: String): Int =
      n match { case bucketRe(b) => b.toInt; case _ => -1 }
    val idParts = Seq("codes", "sq_codes", "bq_codes")
    val before = idParts.map { p =>
      p -> fileHashes(s"$idxDir/${Generations.load(idxDir).get.dir(p)}")
    }.toMap
    val rowsBefore = idParts.map { p =>
      p -> spark.table(s"idx_dp_$p").collect().map(_.toSeq).toSet
    }.toMap

    Index.delete(spark, "idx_dp", Seq(delId).toDF("vec_id"), "vec_id")

    for (p <- idParts) {
      val after =
        fileHashes(s"$idxDir/${Generations.load(idxDir).get.dir(p)}")
      val (wasTouched, wasKept) =
        before(p).partition { case (n, _) => bucketOf(n) == touchedBucket }
      assert(wasTouched.nonEmpty && wasKept.nonEmpty,
        s"$p fixture must populate both touched and untouched buckets")
      // every untouched bucket file survives under the SAME NAME with
      // the SAME BYTES (hard-linked, never rewritten)
      for ((n, h) <- wasKept)
        assert(after.get(n).contains(h), s"$p untouched file $n changed")
      // the touched bucket's old files are gone — rewritten fresh
      for ((n, _) <- wasTouched)
        assert(!after.contains(n), s"$p touched file $n not rewritten")
      // and the committed rows are exactly the survivors
      val idIdx = spark.table(s"idx_dp_$p").columns.indexOf("id")
      val expected = rowsBefore(p).filterNot(_(idIdx) == delId)
      assert(spark.table(s"idx_dp_$p").collect().map(_.toSeq).toSet
        == expected, s"$p rows diverge after pruned delete")
    }
    // the postings part (cl-keyed, full-touch) also lost exactly the id
    val posts = spark.table("idx_dp_postings")
    assert(posts.filter(col("id") === delId).count() == 0)
  }

  test("delete is exact for an INT-typed source id column (advice r13: one hash family)") {
    // Murmur3(int) != Murmur3(long) for the same value, so before the
    // boundary cast an int-keyed artifact put delete's touched-bucket
    // digest in the wrong hash family and deleted rows could survive
    // in "kept" files. Pick a del id whose int- and long-hash buckets
    // DIFFER, so the old code would demonstrably mis-prune.
    val intEmbs = embs.select(col("vec_id").cast("int").as("vec_id"),
      col("embedding"), col("label"))
    val ids = intEmbs.select(col("vec_id")).as[Int].collect().toSeq
    val delId = ids.find { i =>
      val (bi, bl) = spark.range(1)
        .select(pmod(hash(lit(i)), lit(4)), pmod(hash(lit(i.toLong)), lit(4)))
        .as[(Int, Int)].head()
      bi != bl
    }.getOrElse(fail("fixture has no id with divergent int/long buckets"))
    val dir = tmpBase("delint")
    Index.build(spark, intEmbs, "vec_id", "embedding", "label", "idx_di",
      itersIvf = 2, massign = 2, m = 16, ksub = 32, itersPq = 1,
      nBuckets = 4, baseDir = Some(dir))
    Index.delete(spark, "idx_di", Seq(delId).toDF("vec_id"), "vec_id")
    for (p <- Seq("postings", "codes", "sq_codes", "bq_codes"))
      assert(spark.table(s"idx_di_$p")
          .filter(col("id") === delId.toLong).count() == 0,
        s"deleted int id survived in $p")
    val res = Index.search(spark, "idx_di", intEmbs, "vec_id", "embedding",
        col("vec_id") < 4, k = 3, nprobe = 3, rerank = 20)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(res.nonEmpty)
    assert(res.forall { case (_, _, n, _) => n != delId.toLong })
  }

  test("pure-tombstone upsert stages ZERO ingest delta files (state == delete twin); a no-op batch advances no generation; duplicate ingest ids are refused (verdict r16 #2, advice r16)") {
    val dirA = tmpBase("eupa"); val dirB = tmpBase("eupb")
    val evens = embs.filter(col("vec_id") % 2 === 0)
    for ((n, d) <- Seq("idx_eua" -> dirA, "idx_eub" -> dirB))
      Index.build(spark, evens, "vec_id", "embedding", "label", n,
        itersIvf = 2, massign = 2, m = 16, ksub = 32, itersPq = 1,
        nBuckets = 8, baseDir = Some(d))
    val emptyIngest =
      embs.filter(col("vec_id") < 0).select(col("vec_id"), col("embedding"))
    val tomb = Seq(6L, 12L).toDF("vec_id")
    val parts = Seq("postings", "codes", "sq_codes", "bq_codes")
    val idxDirA = s"$dirA/idx_eua"; val idxDirB = s"$dirB/idx_eub"

    // present-but-EMPTY ingest = the delete-heavy CDC stream's
    // pure-tombstone micro-batch: it must collapse to the removal
    // path, not bucket-write four empty delta files per generation
    Index.upsert(spark, "idx_eua", emptyIngest, "vec_id", "embedding",
      delIds = Some(tomb), delCol = "vec_id")
    Index.delete(spark, "idx_eub", tomb, "vec_id")
    for (p <- parts) {
      def files(d: String) =
        fileHashes(s"$d/${Generations.load(d).get.dir(p)}")
      assert(files(idxDirA).size == files(idxDirB).size,
        s"$p file count diverges from the delete twin (empty ingest " +
          "deltas staged?)")
      assert(spark.table(s"idx_eua_$p").collect().map(_.toSeq).toSet
        == spark.table(s"idx_eub_$p").collect().map(_.toSeq).toSet,
        s"$p rows diverge from the delete twin")
    }
    // a batch with nothing to remove AND nothing to ingest advances
    // no generation at all
    val gen = Generations.load(idxDirA).get.gen
    Index.upsert(spark, "idx_eua", emptyIngest, "vec_id", "embedding",
      delIds = Some(Seq.empty[Long].toDF("vec_id")), delCol = "vec_id")
    assert(Generations.load(idxDirA).get.gen == gen,
      "a no-op batch advanced a generation")
    // duplicate ingest ids: both rows would land in the encoded parts
    // and search could return one neighbor id twice — refused loudly
    val dup = embs.filter(col("vec_id").isin(8, 10))
      .select(col("vec_id"), col("embedding"))
    val e = intercept[IllegalArgumentException] {
      Index.upsert(spark, "idx_eua", dup.union(dup), "vec_id",
        "embedding")
    }
    assert(e.getMessage.contains("duplicate ids"))
  }

  test("upsert = delete+append fused into ONE generation commit per part: replaces, inserts, tombstones; untouched files byte-identical; replay idempotent") {
    val dirA = tmpBase("upsa"); val dirB = tmpBase("upsb")
    val evens = embs.filter(col("vec_id") % 2 === 0)
    for ((n, d) <- Seq("idx_upa" -> dirA, "idx_upb" -> dirB))
      Index.build(spark, evens, "vec_id", "embedding", "label", n,
        itersIvf = 2, massign = 2, m = 16, ksub = 32, itersPq = 1,
        nBuckets = 8, baseDir = Some(d))
    // the ingest frame: ids 0,2,4 RE-EMBEDDED with their id+1
    // neighbor's vector (replace), ids 7,9 new (insert); 6,12
    // tombstoned — one upsert call carries all three cases
    val ingest = embs.filter(col("vec_id").isin(1, 3, 5, 8, 10))
      .select((col("vec_id") - 1).cast("long").as("vec_id"),
        col("embedding"))
    val tomb = Seq(6L, 12L).toDF("vec_id")
    val removalIds = Set(0L, 2L, 4L, 7L, 9L, 6L, 12L)
    val idxDirA = s"$dirA/idx_upa"
    val idParts = Seq("codes", "sq_codes", "bq_codes")
    val beforeFiles = idParts.map { p =>
      p -> fileHashes(s"$idxDirA/${Generations.load(idxDirA).get.dir(p)}")
    }.toMap
    val genBefore = Generations.load(idxDirA).get.gen

    Index.upsert(spark, "idx_upa", ingest, "vec_id", "embedding",
      delIds = Some(tomb), delCol = "vec_id")

    // ONE commit for every part (delete-then-append would be two)
    val genAfter = Generations.load(idxDirA).get.gen
    assert(genAfter == genBefore + 1,
      s"upsert advanced ${genAfter - genBefore} generations")
    // row-equal to the same maintenance as explicit delete + append
    Index.delete(spark, "idx_upb",
      ingest.select(col("vec_id")).union(tomb), "vec_id")
    Index.appendCommitted(spark, "idx_upb", ingest, "vec_id", "embedding")
    for (p <- idParts :+ "postings") {
      val a = spark.table(s"idx_upa_$p").collect().map(_.toSeq).toSet
      val b = spark.table(s"idx_upb_$p").collect().map(_.toSeq).toSet
      assert(a == b, s"part $p diverges from delete+append")
    }
    // bucket-pruned: id-bucket files the removal set doesn't touch
    // survive under the same name with the same bytes
    val touchedBuckets = removalIds.map(i =>
      spark.range(1).select(pmod(hash(lit(i)), lit(8))).as[Int].head())
    val bucketRe = """.*_(\d+)(?:\..*)?$""".r
    def bucketOf(n: String): Int =
      n match { case bucketRe(b) => b.toInt; case _ => -1 }
    for (p <- idParts) {
      val after =
        fileHashes(s"$idxDirA/${Generations.load(idxDirA).get.dir(p)}")
      val kept = beforeFiles(p).filter { case (n, _) =>
        !touchedBuckets.contains(bucketOf(n)) }
      assert(kept.nonEmpty, s"$p fixture must leave an untouched bucket")
      for ((n, h) <- kept)
        assert(after.get(n).contains(h), s"$p untouched file $n changed")
    }
    // search serves the merged state, over the merged corpus (the
    // rerank needs the CURRENT vectors)
    val merged = evens
      .filter(!col("vec_id").isin(0, 2, 4, 6, 12))
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      .unionByName(ingest)
    def searchOf(n: String) =
      Index.search(spark, n, merged, "vec_id", "embedding",
          col("vec_id") < 4, k = 3, nprobe = 3, rerank = 20)
        .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    val got = searchOf("idx_upa")
    assert(got.nonEmpty && got == searchOf("idx_upb"))
    assert(got.forall { case (_, _, n, _) => n != 6L && n != 12L })
    // replay idempotency WITHOUT markers: the same upsert re-applied
    // removes exactly the rows it itself added and re-encodes the
    // same vectors — row-equal state, search unchanged
    val rowsBefore = (idParts :+ "postings").map(p =>
      p -> spark.table(s"idx_upa_$p").collect().map(_.toSeq).toSet).toMap
    Index.upsert(spark, "idx_upa", ingest, "vec_id", "embedding",
      delIds = Some(tomb), delCol = "vec_id")
    for (p <- idParts :+ "postings")
      assert(spark.table(s"idx_upa_$p").collect().map(_.toSeq).toSet
        == rowsBefore(p), s"$p rows changed under replay")
    assert(searchOf("idx_upa") == got)
  }

  test("a vector width other than the codes' 64 fails loud at build, naming the width, before any element_at") {
    val narrow = embs.select(col("vec_id"),
      slice(col("embedding"), 1, 32).as("embedding"), col("label"))
    val e = intercept[IllegalArgumentException] {
      Index.build(spark, narrow, "vec_id", "embedding", "label", "idx_w32",
        itersIvf = 1, massign = 2, m = 16, ksub = 32, itersPq = 1,
        nBuckets = 4, baseDir = Some(tmpBase("w32")))
    }
    assert(e.getMessage.contains("vector width 32"), e.getMessage)
    assert(!Index.exists(spark, "idx_w32"))
    val e2 = intercept[IllegalArgumentException] {
      Pq.topK(narrow, "vec_id", "embedding", col("vec_id") < 4, k = 3,
        m = 16, ksub = 32, iters = 1, rerank = 20).collect()
    }
    assert(e2.getMessage.contains("vector width 32"), e2.getMessage)
    // m must tile the width too (the tallOf slice guard)
    val e3 = intercept[IllegalArgumentException] {
      Index.build(spark, embs, "vec_id", "embedding", "label", "idx_m5",
        itersIvf = 1, massign = 2, m = 5, ksub = 32, itersPq = 1,
        nBuckets = 4, baseDir = Some(tmpBase("m5")))
    }
    assert(e3.getMessage.contains("m=5"), e3.getMessage)
  }

  test("a ragged-width corpus fails loud in k-means, naming both widths, instead of training on a sampled width") {
    val first = embs.agg(min(col("vec_id"))).head().get(0)
    val ragged = embs.select(col("vec_id"),
      when(col("vec_id") === lit(first), slice(col("embedding"), 1, 32))
        .otherwise(col("embedding")).as("embedding"), col("label"))
    val e = intercept[IllegalArgumentException] {
      Similarity.kmeans(ragged, "vec_id", "embedding", "label", 1).collect()
    }
    assert(e.getMessage.contains("ragged") && e.getMessage.contains("32") &&
      e.getMessage.contains("64"), e.getMessage)
  }
}
