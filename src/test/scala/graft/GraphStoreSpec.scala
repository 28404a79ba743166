package graft

import java.nio.file.Files
import java.security.MessageDigest

import scala.collection.JavaConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops._

/** Persisted kNN-graph artifact: the build/serve split and the
  * incremental append's rebuild-equivalence contract. (End-to-end the
  * same contracts are proven by the shared DuckDB oracles of
  * q_sim_knngraph / q_sim_pagerank / q_sim_knnlabel /
  * q_sim_graph_append.)
  */
class GraphStoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private def embs = cdc.Io.table(spark, sf, "embeddings")

  private def tmpBase(tag: String): String =
    Files.createTempDirectory(s"graft_graph_$tag").toString

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

  /** Part `p`'s committed directory, read from the artifact's state. */
  private def curDir(gdir: String, p: String): String =
    s"$gdir/${Generations.load(gdir).get.dir(p)}"

  test("append equals a full rebuild at the stored centroids; blocks delta-append byte-untouched; serves follow") {
    val dir = tmpBase("app")
    val even = embs.filter(col("vec_id") % 2 === 0)
    val odd = embs.filter(col("vec_id") % 2 === 1)
    GraphStore.build(spark, even, "vec_id", "embedding", "label",
      "g_app", k = 4, iters = 2, massign = 2, nBuckets = 4,
      baseDir = Some(dir))
    val blocksBefore = fileHashes(s"$dir/g_app/blocks")

    GraphStore.append(spark, "g_app", odd, "vec_id", "embedding", "label")

    // committed block files are never rewritten (the new generation
    // links them byte-identical); the delta is new files
    val blocksAfter = fileHashes(curDir(s"$dir/g_app", "blocks"))
    assert(blocksBefore.forall { case (f, h) => blocksAfter.get(f).contains(h) })
    assert(blocksAfter.size > blocksBefore.size)

    // the maintained edges equal a full fixed-centroid rebuild over
    // the union corpus (same cents, same blocked join, same ranking)
    val base = embs.select(col("vec_id").as("id"),
        Vectors.toDouble(col("embedding")).as("v"))
      .withColumn("nrm", Vectors.norm(col("v")))
    val rebuilt = Similarity.knnGraphAt(base,
        spark.table("g_app_cents"), k = 4, massign = 2)
      .select(col("src_id"), col("rank"), col("neighbor_id"),
        col("cos_micros"))
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    val appended = GraphStore.edges(spark, "g_app")
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    assert(appended.nonEmpty && appended == rebuilt)

    // every corpus vector is a source with up to k edges
    val srcs = GraphStore.edges(spark, "g_app")
      .select(countDistinct(col("src_id"))).as[Long].collect()(0)
    assert(srcs == embs.count())

    // the serve paths run off the maintained artifact: PageRank over
    // the stored edges equals PageRank over the rebuilt edge set, and
    // classify covers the union corpus with the appended labels
    val prStored = GraphStore.pageRank(spark, "g_app", iters = 2)
      .as[(Long, Long)].collect().sorted.toSeq
    val prRebuilt = Graph.pageRank(
        Similarity.knnGraphAt(base, spark.table("g_app_cents"), 4, 2)
          .select(col("src_id").as("src"), col("neighbor_id").as("dst")),
        iters = 2)
      .as[(Long, Long)].collect().sorted.toSeq
    assert(prStored == prRebuilt)
    val cls = GraphStore.classify(spark, "g_app")
    assert(cls.count() == embs.count())
    assert(cls.filter(col("pred_label").isNull).count() == 0)
  }

  test("streaming maintenance: micro-batches equal one rebuild; replayed batch is a no-op") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = tmpBase("str")
    val even = embs.filter(col("vec_id") % 2 === 0)
    GraphStore.build(spark, even, "vec_id", "embedding", "label",
      "g_str", k = 4, iters = 1, massign = 2, nBuckets = 4,
      baseDir = Some(dir))

    val oddRows = embs.filter(col("vec_id") % 2 === 1)
      .select(col("vec_id"), col("embedding").cast("array<double>"),
        col("label"))
      .as[(Long, Seq[Double], Int)].collect().sortBy(_._1)
    val ckpt = Files.createTempDirectory("g_str_ckpt").toString
    val input = MemoryStream[(Long, Seq[Double], Int)]
    val q = graft.streaming.GraphStream.maintain(
      input.toDF().toDF("vec_id", "embedding", "label"),
      "vec_id", "embedding", "label", "g_str", ckpt)
    val (b1, b2) = oddRows.splitAt(oddRows.length / 2)
    input.addData(b1.toSeq: _*); q.processAllAvailable()
    input.addData(b2.toSeq: _*); q.processAllAvailable()
    q.stop()

    val base = embs.select(col("vec_id").as("id"),
        Vectors.toDouble(col("embedding")).as("v"))
      .withColumn("nrm", Vectors.norm(col("v")))
    val rebuilt = Similarity.knnGraphAt(base,
        spark.table("g_str_cents"), k = 4, massign = 2)
      .select(col("src_id"), col("rank"), col("neighbor_id"),
        col("cos_micros"))
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    def edges() = GraphStore.edges(spark, "g_str")
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    val streamed = edges()
    assert(streamed.nonEmpty && streamed == rebuilt)

    // at-least-once: replaying the WHOLE delta is a no-op (ids known)
    GraphStore.append(spark, "g_str",
      embs.filter(col("vec_id") % 2 === 1), "vec_id", "embedding",
      "label")
    assert(edges() == streamed)
    assert(spark.table("g_str_labels").count() == embs.count())
  }

  test("append refuses an ingest that holds one id twice and commits nothing") {
    val dir = tmpBase("dup")
    GraphStore.build(spark, embs.filter(col("vec_id") % 2 === 0), "vec_id",
      "embedding", "label", "g_dup", k = 4, iters = 1, massign = 2,
      nBuckets = 4, baseDir = Some(dir))
    def edges() = GraphStore.edges(spark, "g_dup")
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    val before = edges()
    val odd = embs.filter(col("vec_id") % 2 === 1)
    val e = intercept[IllegalArgumentException] {
      GraphStore.append(spark, "g_dup", odd.unionByName(odd.limit(1)),
        "vec_id", "embedding", "label")
    }
    assert(e.getMessage.contains("duplicate ids"))
    assert(Generations.load(s"$dir/g_dup").get.gen == 0L)
    assert(edges() == before)
  }

  test("delete equals a fixed-centroid rebuild over the survivors; serves follow") {
    val dir = tmpBase("del")
    GraphStore.build(spark, embs, "vec_id", "embedding", "label",
      "g_del", k = 4, iters = 2, massign = 2, nBuckets = 4,
      baseDir = Some(dir))
    val delIds = embs.filter(col("vec_id") % 3 === 0).select(col("vec_id"))
    val delSet = delIds.as[Long].collect().toSet

    GraphStore.delete(spark, "g_del", delIds, "vec_id")

    // the maintained edges equal a full fixed-centroid rebuild over
    // ONLY the survivors (training saw everything — the stored cents)
    val base = embs.filter(!col("vec_id").isin(delSet.toSeq: _*))
      .select(col("vec_id").as("id"),
        Vectors.toDouble(col("embedding")).as("v"))
      .withColumn("nrm", Vectors.norm(col("v")))
    val rebuilt = Similarity.knnGraphAt(base,
        spark.table("g_del_cents"), k = 4, massign = 2)
      .select(col("src_id"), col("rank"), col("neighbor_id"),
        col("cos_micros"))
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    val after = GraphStore.edges(spark, "g_del")
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    assert(after.nonEmpty && after == rebuilt)

    // nothing deleted survives on either side of any edge, in the
    // labels, or in the blocks
    assert(after.forall { case (s, _, n, _) =>
      !delSet.contains(s) && !delSet.contains(n) })
    assert(spark.table("g_del_labels")
      .filter(col("id").isin(delSet.toSeq: _*)).count() == 0)
    assert(spark.table("g_del_blocks")
      .filter(col("id").isin(delSet.toSeq: _*)).count() == 0)

    // serves keep working off the shrunken artifact
    val pr = GraphStore.pageRank(spark, "g_del", iters = 2)
    assert(pr.count() > 0)
    val cls = GraphStore.classify(spark, "g_del")
    assert(cls.count() == embs.count() - delSet.size)
  }

  test("delete is bucket-pruned: untouched bucket files survive byte-identical in all three parts") {
    val dir = tmpBase("delprune")
    GraphStore.build(spark, embs, "vec_id", "embedding", "label",
      "g_dp", k = 4, iters = 2, massign = 2, nBuckets = 4,
      baseDir = Some(dir))
    val gdir = s"$dir/g_dp"
    val bucketRe = """.*_(\d+)(?:\..*)?$""".r
    def bOf(n: String): Int =
      n match { case bucketRe(b) => b.toInt; case _ => -1 }
    // pick a deleted id whose edge-touch set leaves ≥1 bucket kept
    // (a very popular neighbor could touch all 4 buckets)
    val ownBkt = embs.select(col("vec_id").cast("long").as("id"),
        pmod(hash(col("vec_id").cast("long")), lit(4)).as("b"))
      .as[(Long, Int)].collect().toMap
    val srcBktsPerNeighbor = spark.table("g_dp_edges")
      .filter(col("src_id") =!= col("neighbor_id"))
      .groupBy(col("neighbor_id"))
      .agg(collect_set(pmod(hash(col("src_id")), lit(4))).as("bs"))
      .as[(Long, Seq[Int])].collect().toMap
    def edgeBktsOf(id: Long): Set[Int] =
      srcBktsPerNeighbor.getOrElse(id, Seq.empty).toSet + ownBkt(id)
    val delId = ownBkt.keys.toSeq.sorted
      .find(id => edgeBktsOf(id).size < 4).get
    val edgeBkts = edgeBktsOf(delId)
    val labelBkts = Set(ownBkt(delId))
    val blockBkts = spark.table("g_dp_blocks")
      .filter(col("id") === delId)
      .select(pmod(hash(col("cl")), lit(4))).distinct()
      .as[Int].collect().toSet
    val before = Seq(("edges", edgeBkts), ("labels", labelBkts),
      ("blocks", blockBkts)).map { case (p, bkts) =>
      (p, fileHashes(s"$gdir/$p"), bkts)
    }

    GraphStore.delete(spark, "g_dp", Seq(delId).toDF("vec_id"), "vec_id")

    for ((p, beforeHashes, bkts) <- before) {
      val newDir = curDir(gdir, p)
      assert(!newDir.endsWith(s"/$p"), s"no fresh $p dir after delete")
      val after = fileHashes(newDir)
      val (wasTouched, wasKept) =
        beforeHashes.partition { case (n, _) => bkts.contains(bOf(n)) }
      assert(wasTouched.nonEmpty && wasKept.nonEmpty,
        s"$p fixture must populate touched and kept buckets " +
          s"(touched $bkts)")
      for ((n, h) <- wasKept)
        assert(after.get(n).contains(h), s"$p untouched file $n changed")
      for ((n, _) <- wasTouched)
        assert(!after.contains(n), s"$p touched file $n not rewritten")
    }
    // the pruned path still satisfies the delete law: edges equal a
    // fixed-centroid rebuild over the survivors
    val base = embs.filter(col("vec_id") =!= delId)
      .select(col("vec_id").as("id"),
        Vectors.toDouble(col("embedding")).as("v"))
      .withColumn("nrm", Vectors.norm(col("v")))
    val rebuilt = Similarity.knnGraphAt(base,
        spark.table("g_dp_cents"), k = 4, massign = 2)
      .select(col("src_id"), col("rank"), col("neighbor_id"),
        col("cos_micros"))
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    val after = GraphStore.edges(spark, "g_dp")
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    assert(after.nonEmpty && after == rebuilt)
  }

  test("streaming retraction: micro-batched deletes + a replay equal one batch delete") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = tmpBase("ret")
    GraphStore.build(spark, embs, "vec_id", "embedding", "label",
      "g_ret", k = 4, iters = 2, massign = 2, nBuckets = 4,
      baseDir = Some(dir))
    val delRows = embs.filter(col("vec_id") % 3 === 0)
      .select(col("vec_id")).as[Long].collect().sorted.toSeq

    val ckpt = Files.createTempDirectory("g_ret_ckpt").toString
    val input = MemoryStream[Long]
    val q = graft.streaming.GraphStream.retract(
      input.toDF().toDF("vec_id"), "vec_id", "g_ret", ckpt)
    val (b1, b2) = delRows.splitAt(delRows.length / 2)
    input.addData(b1: _*); q.processAllAvailable()
    input.addData(b2: _*); q.processAllAvailable()
    input.addData(b1.take(3): _*); q.processAllAvailable() // replay
    q.stop()

    val base = embs.filter(col("vec_id") % 3 =!= 0)
      .select(col("vec_id").as("id"),
        Vectors.toDouble(col("embedding")).as("v"))
      .withColumn("nrm", Vectors.norm(col("v")))
    val rebuilt = Similarity.knnGraphAt(base,
        spark.table("g_ret_cents"), k = 4, massign = 2)
      .select(col("src_id"), col("rank"), col("neighbor_id"),
        col("cos_micros"))
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    val streamed = GraphStore.edges(spark, "g_ret")
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    assert(streamed.nonEmpty && streamed == rebuilt)
  }

  test("rebuild over a maintained artifact sweeps superseded generation dirs") {
    val dir = tmpBase("rb")
    val even = embs.filter(col("vec_id") % 2 === 0)
    val odd = embs.filter(col("vec_id") % 2 === 1)
    GraphStore.build(spark, even, "vec_id", "embedding", "label",
      "g_rb", k = 4, iters = 2, massign = 2, nBuckets = 4,
      baseDir = Some(dir))
    GraphStore.append(spark, "g_rb", odd, "vec_id", "embedding", "label")
    def children = Files.list(java.nio.file.Paths.get(s"$dir/g_rb"))
      .iterator().asScala.map(_.getFileName.toString).toSet
    // append rewrote the edges into a suffixed generation dir
    assert(children.exists(_.startsWith("edges_g1_")), children.toString)

    // a full rebuild re-establishes the canonical five-dir layout and
    // sweeps every superseded generation — no orphaned disk
    GraphStore.build(spark, embs, "vec_id", "embedding", "label",
      "g_rb", k = 4, iters = 2, massign = 2, nBuckets = 4,
      baseDir = Some(dir))
    assert(children == Set("edges", "labels", "blocks", "cents", "meta",
      Generations.StateFile), children.toString)
    // and the rebuilt artifact serves: every corpus vector is a source
    val srcs = GraphStore.edges(spark, "g_rb")
      .select(countDistinct(col("src_id"))).as[Long].collect()(0)
    assert(srcs == embs.count())
  }
  test("compact re-pins file counts at nBuckets; serves byte-identical; maintenance still works") {
    val dir = tmpBase("cp")
    val even = embs.filter(col("vec_id") % 2 === 0)
    val odd1 = embs.filter(col("vec_id") % 4 === 1)
    val odd3 = embs.filter(col("vec_id") % 4 === 3)
    GraphStore.build(spark, even, "vec_id", "embedding", "label",
      "g_cp", k = 4, iters = 2, massign = 2, nBuckets = 4,
      baseDir = Some(dir))
    GraphStore.append(spark, "g_cp", odd1, "vec_id", "embedding", "label")
    GraphStore.append(spark, "g_cp", odd3, "vec_id", "embedding", "label")

    def serve() = (
      GraphStore.edges(spark, "g_cp").collect().map(_.toSeq).toSet,
      GraphStore.classify(spark, "g_cp").collect().map(_.toSeq).toSet)
    def parquetFiles(prefix: String): Int = {
      val root = java.nio.file.Paths.get(s"$dir/g_cp")
      val sub = Files.list(root).iterator().asScala
        .filter(_.getFileName.toString.startsWith(prefix)).toSeq
      assert(sub.size == 1, s"expected one $prefix dir, got $sub")
      Files.walk(sub.head).iterator().asScala
        .count(_.getFileName.toString.endsWith(".parquet"))
    }

    val before = serve()
    val blocksBefore = parquetFiles("blocks")
    assert(blocksBefore > 4, s"delta appends should accrete files, got $blocksBefore")
    // describe reads the same story from the filesystem alone
    val d1 = GraphStore.describe(spark, "g_cp")
      .as[(String, String, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(d1.keySet == Set("edges", "labels", "blocks", "cents", "meta"))
    assert(d1("blocks")._3 == blocksBefore && d1("blocks")._4 > 0L)

    GraphStore.compact(spark, "g_cp")
    assert(serve() == before)
    for (p <- Seq("edges", "blocks", "labels")) {
      val n = parquetFiles(p)
      assert(n <= 4, s"$p has $n files after compact")
    }
    val d2 = GraphStore.describe(spark, "g_cp")
      .as[(String, String, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(d2("blocks")._3 < blocksBefore && d2("blocks")._2.startsWith("blocks_c"))
    // maintenance still lands on the re-pointed tables: a replayed
    // append (all ids already present) is a clean no-op
    GraphStore.append(spark, "g_cp", odd1, "vec_id", "embedding", "label")
    assert(serve() == before)
  }

  test("register re-attaches a graph from files in a fresh catalog; register ignores a stray crashed sibling, and the next commit sweeps it") {
    val dir = tmpBase("reg")
    val even = embs.filter(col("vec_id") % 2 === 0)
    GraphStore.build(spark, even, "vec_id", "embedding", "label",
      "g_reg", k = 4, iters = 1, massign = 2, nBuckets = 4,
      baseDir = Some(dir))
    // maintenance first, so register resolves a REWRITTEN part dir
    // (edges_g1_XXXX), not just the canonical build layout
    val odd = embs.filter(col("vec_id") % 2 === 1)
    GraphStore.append(spark, "g_reg", odd, "vec_id", "embedding",
      "label")
    def serve() = GraphStore.edges(spark, "g_reg")
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    val before = serve()
    for (p <- Seq("edges", "labels", "blocks", "cents", "meta"))
      spark.sql(s"DROP TABLE IF EXISTS g_reg_$p")
    GraphStore.register(spark, "g_reg", dir)
    assert(serve() == before)
    // the re-attached tables carry the bucket spec: maintenance still
    // lands (a replayed append is a clean no-op through the bucketed
    // anti-join), and describe resolves every part
    GraphStore.append(spark, "g_reg", odd, "vec_id", "embedding",
      "label")
    assert(serve() == before)
    assert(GraphStore.describe(spark, "g_reg").count() == 5)
    // a stray sibling left by a crashed maintenance run is not part of
    // the committed state: register ignores it, and the next commit
    // of that part sweeps it
    val fake = java.nio.file.Paths.get(s"$dir/g_reg/edges_zzcrashed")
    java.nio.file.Files.createDirectories(fake)
    GraphStore.register(spark, "g_reg", dir)
    assert(serve() == before)
    GraphStore.compact(spark, "g_reg")
    assert(!java.nio.file.Files.exists(fake))
    assert(serve() == before)
  }

  test("maybeCompact bounds a long CDC-feed run's file count; serving unchanged") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = tmpBase("mc")
    val seed = embs.filter(col("vec_id") < 8)
    GraphStore.build(spark, seed, "vec_id", "embedding", "label",
      "g_mc", k = 4, iters = 1, massign = 2, nBuckets = 4,
      baseDir = Some(dir))
    // under threshold: metadata-only, no compact
    assert(!GraphStore.maybeCompact(spark, "g_mc", 64))
    val restRows = embs.filter(col("vec_id") >= 8)
      .select(col("vec_id"), col("embedding").cast("array<double>"),
        col("label"))
      .as[(Long, Seq[Double], Int)].collect().sortBy(_._1)
    val ckpt = Files.createTempDirectory("g_mc_ckpt").toString
    val input = MemoryStream[(Long, Seq[Double], Int)]
    val q = graft.streaming.GraphStream.maintain(
      input.toDF().toDF("vec_id", "embedding", "label"),
      "vec_id", "embedding", "label", "g_mc", ckpt,
      autoCompactFiles = Some(8))
    restRows.take(18).grouped(3).foreach { g =>
      input.addData(g.toSeq: _*); q.processAllAvailable()
    }
    q.stop()
    val counts = GraphStore.describe(spark, "g_mc")
      .select("part", "n_files").as[(String, Long)].collect().toMap
    assert(Seq("edges", "blocks", "labels").forall(counts(_) <= 8),
      s"file count unbounded under the policy: $counts")
    // the maintained graph equals one rebuild at the stored centroids
    val streamedIds = restRows.take(18).map(_._1)
    val all = embs.filter(col("vec_id") < 8 ||
      col("vec_id").isin(streamedIds: _*))
    val base = all.select(col("vec_id").as("id"),
        Vectors.toDouble(col("embedding")).as("v"))
      .withColumn("nrm", Vectors.norm(col("v")))
    val rebuilt = Similarity.knnGraphAt(base,
        spark.table("g_mc_cents"), k = 4, massign = 2)
      .select(col("src_id"), col("rank"), col("neighbor_id"),
        col("cos_micros"))
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    assert(GraphStore.edges(spark, "g_mc")
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq == rebuilt)
  }

  test("upsert fuses delete+append into ONE generation advance per part; equals the two-call twin AND the fixed-centroid rebuild; kept files byte-identical (verdict r16 #1)") {
    val dirA = tmpBase("upsa"); val dirB = tmpBase("upsb")
    val even = embs.filter(col("vec_id") % 2 === 0)
    for ((n, d) <- Seq("g_upa" -> dirA, "g_upb" -> dirB))
      GraphStore.build(spark, even, "vec_id", "embedding", "label",
        n, k = 4, iters = 2, massign = 2, nBuckets = 4,
        baseDir = Some(d))
    val vecOf = embs.select(col("vec_id"),
        col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().toMap
    // re-embed graphed id 0 (donor 1), insert new id 7 (donor 8),
    // tombstone id 6 — one batch exercising all three CDC shapes
    val ups = Seq((0L, vecOf(1L), 0L), (7L, vecOf(8L), 7L))
      .toDF("vec_id", "embedding", "label")
    val tomb = Seq(6L).toDF("vec_id")
    val gdirA = s"$dirA/g_upa"
    val beforeFiles = Seq("edges", "blocks", "labels")
      .map(p => p -> fileHashes(s"$gdirA/$p")).toMap

    GraphStore.upsert(spark, "g_upa", ups, "vec_id", "embedding",
      "label", delIds = Some(tomb), delCol = "vec_id")
    // the two-call twin: the pre-fusion CDC feed's delete-then-append
    GraphStore.delete(spark, "g_upb", Seq(0L, 6L, 7L).toDF("vec_id"),
      "vec_id")
    GraphStore.append(spark, "g_upb", ups, "vec_id", "embedding",
      "label")

    def edgesOf(n: String) = GraphStore.edges(spark, n)
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    assert(edgesOf("g_upa").nonEmpty &&
      edgesOf("g_upa") == edgesOf("g_upb"))
    def classifyOf(n: String) = GraphStore.classify(spark, n)
      .as[(Long, Long, Long, Long, Long)].collect().sorted.toSeq
    assert(classifyOf("g_upa") == classifyOf("g_upb"))
    // ...and the stronger law: a fixed-centroid rebuild over the
    // merged corpus (evens minus {0,6} plus 0→vec(1), 7→vec(8))
    val merged = even.filter(!col("vec_id").isin(0L, 6L))
      .select(col("vec_id").cast("long").as("id"),
        col("embedding").cast("array<double>").as("emb"))
      .unionByName(Seq((0L, vecOf(1L)), (7L, vecOf(8L)))
        .toDF("id", "emb"))
    val base = merged.select(col("id"),
        Vectors.toDouble(col("emb")).as("v"))
      .withColumn("nrm", Vectors.norm(col("v")))
    val rebuilt = Similarity.knnGraphAt(base,
        spark.table("g_upa_cents"), k = 4, massign = 2)
      .select(col("src_id"), col("rank"), col("neighbor_id"),
        col("cos_micros"))
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    assert(edgesOf("g_upa") == rebuilt)
    // ONE generation advance for all three parts: exactly one dir per
    // part, all committed at gen 1 — not a delete generation followed
    // by an append one (the two-commit crash window this fusion
    // closes)
    assert(Generations.load(gdirA).get.gen == 1L)
    val dirsAfter = Files.list(java.nio.file.Paths.get(gdirA))
      .iterator().asScala.filter(Files.isDirectory(_))
      .map(_.getFileName.toString).toSeq.sorted
    for (p <- Seq("edges", "blocks", "labels")) {
      val of = dirsAfter.filter(d => d == p || d.startsWith(s"${p}_"))
      assert(of.size == 1 && of.head.startsWith(s"${p}_g1_"),
        s"$p advanced ${of.mkString(",")} — expected one gen-1 dir")
    }
    // kept bucket files hard-link byte-identical: every file name
    // surviving into the fresh generation carries its exact bytes
    for (p <- Seq("edges", "blocks", "labels")) {
      val newDir = dirsAfter.find(_.startsWith(s"${p}_g1_")).get
      val after = fileHashes(s"$gdirA/$newDir")
      val common = beforeFiles(p).keySet intersect after.keySet
      for (n <- common)
        assert(beforeFiles(p)(n) == after(n),
          s"$p kept file $n changed bytes")
    }
  }

  test("a crashed upsert attempt (phase-1 failure) leaves the served graph untouched; the retry lands the merged state") {
    val dir = tmpBase("upsc")
    val even = embs.filter(col("vec_id") % 2 === 0)
    GraphStore.build(spark, even, "vec_id", "embedding", "label",
      "g_upc", k = 4, iters = 1, massign = 2, nBuckets = 4,
      baseDir = Some(dir))
    val vecOf = embs.select(col("vec_id"),
        col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().toMap
    val before = GraphStore.edges(spark, "g_upc")
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    // poison the SEED column: only the labels staging write evaluates
    // it, so the failure fires INSIDE phase 1 — after the removal/
    // ingest derivation, possibly after sibling parts staged — the
    // worst-case crash point for the old two-commit feed
    val boom = udf((l: Long) =>
      { if (l >= 0) sys.error("injected phase-1 crash"); l })
    val ups = Seq((0L, vecOf(1L), 0L), (7L, vecOf(8L), 7L))
      .toDF("vec_id", "embedding", "label")
    intercept[Exception] {
      GraphStore.upsert(spark, "g_upc",
        ups.withColumn("label", boom(col("label"))),
        "vec_id", "embedding", "label",
        delIds = Some(Seq(6L).toDF("vec_id")), delCol = "vec_id")
    }
    // crashed-attempt invisibility: the catalog still serves the old
    // generation in full — no key missing, no half-applied removal
    val served = GraphStore.edges(spark, "g_upc")
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    assert(served == before)
    // the retried batch (the at-least-once contract) lands the whole
    // merged state
    GraphStore.upsert(spark, "g_upc", ups, "vec_id", "embedding",
      "label", delIds = Some(Seq(6L).toDF("vec_id")), delCol = "vec_id")
    val merged = even.filter(!col("vec_id").isin(0L, 6L))
      .select(col("vec_id").cast("long").as("id"),
        col("embedding").cast("array<double>").as("emb"))
      .unionByName(Seq((0L, vecOf(1L)), (7L, vecOf(8L)))
        .toDF("id", "emb"))
    val base = merged.select(col("id"),
        Vectors.toDouble(col("emb")).as("v"))
      .withColumn("nrm", Vectors.norm(col("v")))
    val rebuilt = Similarity.knnGraphAt(base,
        spark.table("g_upc_cents"), k = 4, massign = 2)
      .select(col("src_id"), col("rank"), col("neighbor_id"),
        col("cos_micros"))
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    val after = GraphStore.edges(spark, "g_upc")
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    assert(after.nonEmpty && after == rebuilt)
  }

  test("CDC feed (X159): micro-batched upserts/tombstones + a replay equal the fixed-centroid rebuild over the merged state") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = tmpBase("cdc")
    val even = embs.filter(col("vec_id") % 2 === 0)
    GraphStore.build(spark, even, "vec_id", "embedding", "label",
      "g_cdc", k = 4, iters = 1, massign = 2, nBuckets = 4,
      baseDir = Some(dir))
    val vecOf = embs.select(col("vec_id"),
        col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().toMap
    // batch 1: re-embed key 0 (donor 1) with an INTRA-batch conflict
    // on key 2 (later (ts, seq) edit wins: donor 9 over donor 5),
    // insert key 7 (donor 8), tombstone key 6; batch 2: re-embed key
    // 0 AGAIN (donor 3 — cross-batch LWW by log order) and tombstone
    // the batch-1 insert; then batch 2 redelivers whole (the
    // at-least-once replay — delete of absent ids touches no source,
    // append's idempotence gate drops the present ones)
    type Chg = (Long, String, Seq[Double], Long, Long, Long)
    val b1: Seq[Chg] = Seq(
      (0L, cdc.ChangeOp.Update, vecOf(1L), 100L, 1L, 0L),
      (2L, cdc.ChangeOp.Update, vecOf(5L), 100L, 2L, 2L),
      (2L, cdc.ChangeOp.Update, vecOf(9L), 100L, 3L, 2L),
      (7L, cdc.ChangeOp.Insert, vecOf(8L), 100L, 4L, 7L),
      (6L, cdc.ChangeOp.Delete, vecOf(6L), 100L, 5L, 6L))
    val b2: Seq[Chg] = Seq(
      (0L, cdc.ChangeOp.Update, vecOf(3L), 200L, 6L, 0L),
      (7L, cdc.ChangeOp.Delete, vecOf(8L), 200L, 7L, 7L))
    val ckpt = Files.createTempDirectory("g_cdc_ckpt").toString
    val input =
      MemoryStream[(Long, String, Seq[Double], Long, Long, Long)]
    val q = graft.streaming.TrilogyStream.applyChanges(
      input.toDF().toDF("key", "op", "vec", "ts_sec", "seq", "label"),
      "key", "op", Seq(graft.streaming.TrilogyStream.Graph("g_cdc", "vec",
        "label")), ckpt)
    input.addData(b1: _*); q.processAllAvailable()
    input.addData(b2: _*); q.processAllAvailable()
    input.addData(b2: _*); q.processAllAvailable() // replay
    q.stop()
    // merged state: evens minus {0,2,6} plus 0→vec(3), 2→vec(9);
    // 7 inserted then tombstoned → absent
    val merged = even.filter(!col("vec_id").isin(0L, 2L, 6L))
      .select(col("vec_id").cast("long").as("id"),
        col("embedding").cast("array<double>").as("emb"))
      .unionByName(Seq((0L, vecOf(3L)), (2L, vecOf(9L)))
        .toDF("id", "emb"))
    val base = merged.select(col("id"),
        Vectors.toDouble(col("emb")).as("v"))
      .withColumn("nrm", Vectors.norm(col("v")))
    val rebuilt = Similarity.knnGraphAt(base,
        spark.table("g_cdc_cents"), k = 4, massign = 2)
      .select(col("src_id"), col("rank"), col("neighbor_id"),
        col("cos_micros"))
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    val streamed = GraphStore.edges(spark, "g_cdc")
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    assert(streamed.nonEmpty && streamed == rebuilt)
    assert(streamed.forall { case (s_, _, n, _) =>
      s_ != 6L && s_ != 7L && n != 6L && n != 7L })
  }
}
