package graft

import scala.collection.JavaConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops._
import graft.functions.ArrayExprs

/** Unit coverage for the LLM-pipeline operators on hand-built corpora
  * (the driver's oracle covers them end-to-end on testdata; these pin
  * the semantics on known inputs).
  */
class OpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog", "s0"),
    (1L, "the quick brown fox jumps over the lazy cat", "s0"), // near-dup of 0
    (2L, "the quick brown fox jumps over the lazy dog", "s1"), // exact dup of 0
    (3L, "completely different words about spark engines here", "s1"))
    .toDF("doc_id", "text", "source")

  test("exact dedup groups identical texts") {
    val out = Dedup.exact(docs, "doc_id", "text")
      .orderBy("rep_id").select("rep_id", "n_copies")
      .as[(Long, Long)].collect().toSeq
    assert(out == Seq((0L, 2L), (1L, 1L), (3L, 1L)))
  }

  test("minhash LSH finds the exact and near pair, not the unrelated one") {
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text",
        k = 3, numHashes = 32, bands = 8, rows = 4, threshold = 0.2)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 2L))) // identical → always caught
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    // the exact pair's verified jaccard is 1.0
    val j = Dedup.minhashPairs(docs, "doc_id", "text", 3, 32, 8, 4, 0.2)
      .filter(col("id1") === 0 && col("id2") === 2)
      .select("jacc_micros").as[Long].head()
    assert(j == 1000000L)
  }

  test("simhash: identical docs at distance 0, unrelated docs far") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", chunks = 6, maxDist = 5)
      .select("id1", "id2", "dist").as[(Long, Long, Long)].collect()
    val d02 = pairs.find(p => p._1 == 0L && p._2 == 2L)
    assert(d02.exists(_._3 == 0L))
    assert(!pairs.exists(p => (p._1 == 3L || p._2 == 3L) && p._3 <= 5))
  }

  test("posting-list ngram jaccard finds exact and near pairs globally") {
    val out = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        k = 3, threshold = 0.2)
      .select("id1", "id2", "jacc_micros").as[(Long, Long, Long)].collect()
    val pairs = out.map(p => (p._1, p._2)).toSet
    assert(pairs == Set((0L, 1L), (0L, 2L), (1L, 2L)))
    assert(out.find(p => p._1 == 0L && p._2 == 2L).get._3 == 1000000L)
  }

  test("cosine: orthogonal 0, identical 1e6 micros, known angle") {
    val embs = Seq(
      (0L, Seq(1f, 0f, 0f), 0),
      (1L, Seq(0f, 1f, 0f), 0),
      (2L, Seq(1f, 0f, 0f), 0),
      (3L, Seq(1f, 1f, 0f), 0))
      .toDF("vec_id", "embedding", "label")
    val pairs = Dedup.cosinePairs(embs, "vec_id", "embedding", "label", 0.9)
      .select("id1", "id2", "cos_micros").as[(Long, Long, Long)].collect().toSet
    assert(pairs == Set((0L, 2L, 1000000L)))
    val all = Dedup.cosinePairs(embs, "vec_id", "embedding", "label", -1.0)
      .select("id1", "id2", "cos_micros").as[(Long, Long, Long)].collect()
      .map { case (a, b, c) => (a, b) -> c }.toMap
    assert(all((0L, 1L)) == 0L)
    assert(all((0L, 3L)) == 707107L) // 1/sqrt(2)
  }

  test("brute-force top-k ranks by cosine desc") {
    val embs = Seq(
      (0L, Seq(1f, 0f), 0),
      (1L, Seq(1f, 0.1f), 0),
      (2L, Seq(0.5f, 0.5f), 0),
      (3L, Seq(0f, 1f), 0))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.bruteForceTopK(embs, "vec_id", "embedding",
        col("vec_id") === 0, k = 3)
      .select("rank", "neighbor_id").as[(Long, Long)].collect().toSeq.sorted
    assert(out == Seq((1L, 1L), (2L, 2L), (3L, 3L)))
  }

  test("MRL: full-width recall is perfect, a blind prefix is not; " +
      "rerank with a full-corpus budget equals brute force") {
    // 1-D cosine is just the SIGN, so every positive coord-0 vector
    // ties at 1.0 and the id tie-break picks {1,2} — but the full
    // geometry ranks id 3 above id 2, so the dim-1 prefix pays recall
    val embs = Seq(
      (0L, Seq(1f, 0f, 0f, 0f)),
      (1L, Seq(1f, 0.1f, 0f, 0f)),
      (2L, Seq(0.5f, 0.5f, 0f, 0f)), // cos .707
      (3L, Seq(0.6f, 0.1f, 0f, 0f)), // cos .986 — truth, blind at dim 1
      (4L, Seq(0f, 1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val rec = Similarity.mrlRecall(embs, "vec_id", "embedding",
        col("vec_id") === 0, k = 2, dims = Seq(1, 4))
      .select("dim", "recall_micros").as[(Long, Long)].collect().toMap
    assert(rec(4L) == 1000000L) // dim 4 IS the full vector
    assert(rec(1L) == 500000L) // {1,2} by tie-break vs truth {1,3}
    // rerank with factor covering the corpus == brute force exactly
    val truth = Similarity.bruteForceTopK(embs, "vec_id", "embedding",
        col("vec_id") === 0, k = 2)
      .select("rank", "neighbor_id", "cos_micros")
      .as[(Long, Long, Long)].collect().toSeq.sorted
    val got = Similarity.mrlRerank(embs, "vec_id", "embedding",
        col("vec_id") === 0, k = 2, dim = 1, factor = 2)
      .select("rank", "neighbor_id", "cos_micros")
      .as[(Long, Long, Long)].collect().toSeq.sorted
    assert(got == truth)
  }

  test("SQ8 top-k with full rerank budget equals the brute-force truth") {
    val embs = Seq(
      (0L, Seq(1f, 0f), 0),
      (1L, Seq(1f, 0.1f), 0),
      (2L, Seq(0.5f, 0.5f), 0),
      (3L, Seq(0f, 1f), 0),
      (4L, Seq(0.9f, 0.2f), 0))
      .toDF("vec_id", "embedding", "label")
    val truth = Similarity.bruteForceTopK(embs, "vec_id", "embedding",
        col("vec_id") === 0, k = 3)
      .select("rank", "neighbor_id", "cos_micros")
      .as[(Long, Long, Long)].collect().toSeq.sorted
    // rerank >= corpus: the exact rerank sees every candidate, so the
    // output must match brute force EXACTLY (incl. exact cos_micros)
    val got = Sq.topK(embs, "vec_id", "embedding",
        col("vec_id") === 0, k = 3, rerank = 10, dim = 2)
      .select("rank", "neighbor_id", "cos_micros")
      .as[(Long, Long, Long)].collect().toSeq.sorted
    assert(got == truth)
    // tight rerank budget still finds the top-1 here, and recall
    // reports hits/k honestly
    val rec = Sq.recall(embs, "vec_id", "embedding",
        col("vec_id") === 0, k = 3, rerank = 10, dim = 2)
      .select("qid", "recall_micros").as[(Long, Long)].collect().toMap
    assert(rec == Map(0L -> 1000000L))
    // IVF × SQ with every list probed and full rerank budget reduces
    // to the same exact answer (labels seed 1 trained list here)
    val ivfsq = Sq.ivfSqTopK(embs, "vec_id", "embedding", "label",
        col("vec_id") === 0, k = 3, nprobe = 1, itersIvf = 1,
        massign = 1, rerank = 10, dim = 2)
      .select("rank", "neighbor_id", "cos_micros")
      .as[(Long, Long, Long)].collect().toSeq.sorted
    assert(ivfsq == truth)
  }

  test("trained k-means: separable clusters → perfect recall; empty clusters kept") {
    // two tight clusters around (1,0) and (0,1); labels deliberately
    // MISassign one point — training must pull assignments right
    val embs = Seq(
      (0L, Seq(1f, 0.00f), 0), (1L, Seq(1f, 0.05f), 0),
      (2L, Seq(1f, 0.10f), 1), // wrong seed label
      (3L, Seq(0.00f, 1f), 1), (4L, Seq(0.05f, 1f), 1),
      (5L, Seq(0.10f, 1f), 2)) // cluster 2 will end up empty after training
      .toDF("vec_id", "embedding", "label")
    val cents = Similarity.kmeans(embs, "vec_id", "embedding", "label", iters = 2)
    assert(cents.count() == 3) // empty cluster keeps its previous centroid
    // with nprobe=2 of 3 lists and clean separation, IVF recall@2 is exact
    val rec = Similarity.ivfRecall(embs, "vec_id", "embedding", "label",
        col("vec_id") < 2, k = 2, nprobe = 2, iters = 2)
      .select("qid", "recall_micros").as[(Long, Long)].collect().toMap
    assert(rec == Map(0L -> 1000000L, 1L -> 1000000L))
  }

  test("cluster-balanced sample: exact quota per learned cluster, reproducible") {
    val embs = Seq( // two separable clusters of 5 and 3 members
      (0L, Seq(1f, 0.00f), 0), (1L, Seq(1f, 0.05f), 0),
      (2L, Seq(1f, 0.10f), 0), (3L, Seq(1f, 0.15f), 0),
      (4L, Seq(1f, 0.20f), 0),
      (5L, Seq(0f, 1f), 1), (6L, Seq(0.05f, 1f), 1), (7L, Seq(0.1f, 1f), 1))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.clusterSample(embs, "vec_id", "embedding",
        "label", iters = 2, n = 2)
      .select("cl", "vec_id", "rank")
      .as[(Int, Long, Long)].collect().toSeq
    // exact quota: 2 members per non-empty cluster, ranks 1..2
    assert(out.groupBy(_._1).view.mapValues(_.map(_._3).sorted).toMap
      .forall(_._2 == Seq(1L, 2L)))
    assert(out.size == 4)
    // membership respects the LEARNED partition: the separable halves
    // never mix inside one cluster's sample
    out.groupBy(_._1).values.foreach { rows =>
      val ids = rows.map(_._2).toSet
      assert(ids.subsetOf(Set(0L, 1L, 2L, 3L, 4L)) ||
        ids.subsetOf(Set(5L, 6L, 7L)))
    }
    // a quota above the stratum takes the whole stratum
    val all = Similarity.clusterSample(embs, "vec_id", "embedding",
      "label", iters = 2, n = 100)
    assert(all.count() == 8)
    // rerun replays bit-for-bit
    val again = Similarity.clusterSample(embs, "vec_id", "embedding",
        "label", iters = 2, n = 2)
      .select("cl", "vec_id", "rank")
      .as[(Int, Long, Long)].collect().toSeq
    assert(again.toSet == out.toSet)
  }

  test("knnGraph: full-coverage assignment equals brute force; blocks confine neighbors") {
    val embs = Seq(
      (0L, Seq(1f, 0f), 0), (1L, Seq(1f, 0.1f), 0),
      (2L, Seq(0.9f, 0.2f), 0),
      (3L, Seq(0f, 1f), 1), (4L, Seq(0.05f, 1f), 1),
      (5L, Seq(0.1f, 1f), 1))
      .toDF("vec_id", "embedding", "label")
    // massign=2 over 2 lists posts every vector to BOTH lists — one
    // block covers the corpus, so the graph must equal the exact
    // brute-force graph (and the shared-list duplicates must dedup:
    // without it ranks would double-count)
    val exact = Similarity.bruteForceTopK(embs, "vec_id", "embedding",
        lit(true), k = 3)
      .select("qid", "rank", "neighbor_id", "cos_micros")
      .as[(Long, Long, Long, Long)].collect().toSet
    val full = Similarity.knnGraph(embs, "vec_id", "embedding", "label",
        k = 3, iters = 1, massign = 2)
      .select("src_id", "rank", "neighbor_id", "cos_micros")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(full == exact)
    // massign=1 on separable clusters: neighbors stay within the
    // vector's own block (each block has 3 members → 2 neighbors)
    val blocked = Similarity.knnGraph(embs, "vec_id", "embedding", "label",
        k = 3, iters = 1, massign = 1)
      .select("src_id", "neighbor_id").as[(Long, Long)].collect()
    assert(blocked.length == 12) // 6 vectors × 2 within-block neighbors
    val lowIds = Set(0L, 1L, 2L)
    blocked.foreach { case (s, n) =>
      assert(lowIds.contains(s) == lowIds.contains(n))
    }
  }

  test("charEntropy: quantize-per-char sum, code-point counting, empty → 0") {
    val docs = Seq(
      (0L, "aaaa"),          // one symbol → zero entropy
      (1L, "ab"),            // two chars: 2 × round(ln2/2 · 1e6) = 693148
      (2L, "😀😀"),          // surrogate PAIR is ONE code point → 0
      (3L, ""),              // empty → 0
      (4L, "中中文"))        // 2×(ln3−ln2)/3 + (ln3)/3, each quantized
      .toDF("id", "text")
    val out = docs.select(col("id"),
        graft.ops.TextAnalysis.charEntropy(col("text")).as("e"))
      .as[(Long, Long)].collect().toMap
    assert(out(0L) == 0L)
    // NOTE 693148, not round(ln2·1e6) = 693147: each char's 346573.59
    // rounds UP first — pins the quantize-BEFORE-sum contract
    assert(out(1L) == 693148L)
    assert(out(2L) == 0L)
    assert(out(3L) == 0L)
    val expected4 =
      math.round(2L * (math.log(3.0) - math.log(2.0)) / 3L * 1e6) +
        math.round(1L * (math.log(3.0) - math.log(1.0)) / 3L * 1e6)
    assert(out(4L) == expected4)
  }

  test("pageRank matches hand-computed integer rounds; dangling node keeps base") {
    // 1→2, 3→2, 2→1: node 3 receives nothing (rank sink at base),
    // node 2 is the hub. Hand-rolled with the exact integer update
    // pr' = 150000 + (85·inflow) div 100, inflow = Σ pr div outdeg.
    val edges = Seq((1L, 2L), (3L, 2L), (2L, 1L)).toDF("src", "dst")
    val out = Graph.pageRank(edges, iters = 2)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(
      1L -> 1722500L, // 150000 + 85% of pr1(2)=1850000
      2L -> 1127500L, // 150000 + 85% of (1000000 + 150000)
      3L -> 150000L)) // pure sink: base only
  }

  test("JSONL round trip is lossless for newlines, quotes and unicode") {
    val hostile = Seq(
      (0L, "plain ascii text", "s0"),
      (1L, "line one\nline two\ttabbed", "s0"),     // control chars
      (2L, "quotes \" and \\ backslashes \\\" mixed", "s1"),
      (3L, "unicode: café 中文 😀 emoji", "s1"),
      (4L, "", "s2"))                                // empty string
      .toDF("doc_id", "text", "source")
    val dir = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "jsonl-spec")
      .toString
    val out = IoFormats.jsonlRoundTrip(hostile, "doc_id", "text", "source", dir)
      .orderBy("source")
      .select("source", "n_docs", "fp_xor", "sum_chars")
      .as[(String, Long, Long, Long)].collect().toSeq
    // expected checksums straight from the ORIGINAL frame (no JSON leg)
    val direct = hostile
      .withColumn("fp", graft.ops.Hashing.hash60(col("text")))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), expr("bit_xor(fp)").as("fp_xor"),
        sum(length(col("text"))).as("sum_chars"))
      .orderBy("source")
      .select("source", "n_docs", "fp_xor", "sum_chars")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(out == direct)
    assert(out.map(_._2).sum == 5L)
  }

  test("sharded export: one data file per shard, deterministic layout, lossless checksums") {
    val docs = (0L until 200L).map(i =>
      (i, s"doc $i text with\nnewline and \"quote\" café$i"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "shards-spec")
      .toString
    val n = 8
    val audit = IoFormats.shardedExport(docs, "doc_id", "text", n, dir)
      .orderBy("shard")
      .as[(Int, Long, Long, Long, Long)].collect().toSeq

    // every shard directory exists and holds EXACTLY ONE data file
    val shardDirs = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .iterator().asScala.filter(p =>
        p.getFileName.toString.startsWith("shard=")).toSeq
    assert(shardDirs.size == n)
    for (d <- shardDirs) {
      val files = java.nio.file.Files.list(d).iterator().asScala
        .filter(f => !f.getFileName.toString.startsWith("_")
          && !f.getFileName.toString.startsWith(".")).toSeq
      assert(files.size == 1, s"$d holds ${files.size} data files")
    }

    // balanced in expectation: no shard empty, none > 2x the mean
    val counts = audit.map(_._2)
    assert(counts.sum == 200L && counts.min > 0)
    assert(counts.max.toDouble / (200.0 / n) < 2.0,
      s"shard skew: $counts")

    // deterministic: a second export to a fresh dir audits identically
    val dir2 = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "shards-spec2")
      .toString
    val audit2 = IoFormats.shardedExport(docs, "doc_id", "text", n, dir2)
      .orderBy("shard")
      .as[(Int, Long, Long, Long, Long)].collect().toSeq
    assert(audit == audit2)

    // lossless: checksums equal the no-JSON-leg direct computation
    val direct = docs
      .withColumn("shard", pmod(graft.ops.Hashing.hash60(
          concat(col("doc_id").cast("string"), lit(":shard"))), lit(n.toLong))
        .cast("int"))
      .withColumn("fp", graft.ops.Hashing.hash60(col("text")))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), expr("bit_xor(doc_id)").as("ids_xor"),
        expr("bit_xor(fp)").as("fp_xor"), sum(length(col("text"))).as("sum_chars"))
      .orderBy("shard")
      .as[(Int, Long, Long, Long, Long)].collect().toSeq
    assert(audit == direct)
  }

  test("BQ: sign pack matches a reference popcount; wide rerank equals brute force") {
    val embs = Seq(
      (0L, Seq(1f, -0.5f, 0.2f, 0f), 0), (1L, Seq(0.9f, -0.4f, 0.3f, -0.1f), 0),
      (2L, Seq(-1f, 0.5f, -0.2f, 0.1f), 1), (3L, Seq(-0.9f, 0.6f, -0.1f, 0.2f), 1),
      (4L, Seq(0.5f, 0.5f, 0.5f, 0.5f), 0))
      .toDF("vec_id", "embedding", "label")
    // reference pack: bit d set iff v[d] > 0 (note: 0f is NOT set)
    def refPack(v: Seq[Float]): Long =
      v.zipWithIndex.collect { case (x, i) if x > 0 => 1L << i }.foldLeft(0L)(_ | _)
    val packed = embs
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .select(col("vec_id"), graft.ops.Bq.packCol("v", 4).as("code"))
      .as[(Long, Long)].collect().toMap
    assert(packed(0L) == refPack(Seq(1f, -0.5f, 0.2f, 0f)))
    assert(packed(2L) == refPack(Seq(-1f, 0.5f, -0.2f, 0.1f)))
    assert(packed(4L) == 15L)
    // rerank ≥ corpus ⇒ the Hamming cut drops nobody ⇒ exact output
    val exact = Similarity.bruteForceTopK(embs, "vec_id", "embedding",
        col("vec_id") < 2, k = 3)
      .select("qid", "rank", "neighbor_id", "cos_micros")
      .as[(Long, Long, Long, Long)].collect().toSet
    val bq = Bq.topK(embs, "vec_id", "embedding",
        col("vec_id") < 2, k = 3, rerank = 10, dim = 4)
      .select("qid", "rank", "neighbor_id", "cos_micros")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(bq == exact)
  }

  test("BQ: recall keeps a (qid, 0) row when the cut misses every truth") {
    // query 0 = (1, 0.01): its TRUE nearest neighbor is 1 = (1, -0.01)
    // (cos ≈ 0.9998) but their sign codes differ in bit 1 (ham = 1),
    // while decoy 2 = (0.01, 1) shares query 0's exact code (ham = 0)
    // at cos ≈ 0.02. With rerank = 1 the Hamming cut admits ONLY the
    // decoy, so BQ misses all k = 1 truths — the truth-LEFT-JOIN-got
    // shape must still surface qid 0 with recall 0, not drop the row
    val embs = Seq(
      (0L, Seq(1f, 0.01f), 0),
      (1L, Seq(1f, -0.01f), 0),
      (2L, Seq(0.01f, 1f), 1))
      .toDF("vec_id", "embedding", "label")
    val rec = Bq.recall(embs, "vec_id", "embedding",
        col("vec_id") === 0, k = 1, rerank = 1, dim = 2)
      .as[(Long, Long)].collect()
    assert(rec.toSeq == Seq((0L, 0L)))
    // sanity: widening the cut past the decoy recovers the truth
    val wide = Bq.recall(embs, "vec_id", "embedding",
        col("vec_id") === 0, k = 1, rerank = 2, dim = 2)
      .as[(Long, Long)].collect()
    assert(wide.toSeq == Seq((0L, 1000000L)))
  }

  test("BQ: packCol maps a NULL vector to a NULL code, not an error") {
    val df = Seq((0L, Some(Seq(1d, -1d))), (1L, None))
      .toDF("vec_id", "v")
      .select(col("vec_id"), Bq.packCol("v", 2).as("code"))
      .as[(Long, Option[Long])].collect().toMap
    assert(df(0L) == Some(1L) && df(1L).isEmpty)
  }

  test("centroidClassify assigns every vector to its nearest label centroid") {
    // train = even ids: label-0 centroid ≈ (1, 0.1), label-1 ≈ (0.05, 1);
    // held-out 1 and 5 sit clearly inside their own label's cone, and
    // held-out 7 carries a WRONG stored label → correct = 0
    val embs = Seq(
      (0L, Seq(1f, 0f), 0), (2L, Seq(1f, 0.2f), 0),
      (4L, Seq(0f, 1f), 1), (6L, Seq(0.1f, 1f), 1),
      (1L, Seq(0.9f, 0.1f), 0), (5L, Seq(0.05f, 0.9f), 1),
      (7L, Seq(0.95f, 0.05f), 1))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.centroidClassify(embs, "vec_id", "embedding",
        "label", col("id") % 2 === 0)
      .select("id", "pred_label", "correct", "is_train")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == (1L, 0L, 1L, 0L))
    assert(out(5L) == (5L, 1L, 1L, 0L))
    assert(out(7L) == (7L, 0L, 0L, 0L)) // predicted 0, labeled 1
    assert(Seq(0L, 2L, 4L, 6L).forall(i => out(i)._4 == 1L)) // flagged train
    assert(Seq(0L, 2L, 4L, 6L).forall(i => out(i)._3 == 1L)) // resubstitution
  }

  test("editPairs verifies candidates with exact bounded Levenshtein") {
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "the quick brown fox leaps over the lazy dog"),   // 3 edits
      (2L, "the quick brown fox jumps over the lazy dog !"), // 2 appended
      (3L, "entirely different words with nothing shared here"))
      .toDF("doc_id", "text")
    // plain-DP reference distance
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val texts = Map(
      0L -> "the quick brown fox jumps over the lazy dog",
      1L -> "the quick brown fox leaps over the lazy dog",
      2L -> "the quick brown fox jumps over the lazy dog !",
      3L -> "entirely different words with nothing shared here")
    val got = Dedup.editPairs(docs, "doc_id", "text", k = 3, maxDist = 5)
      .select("id1", "id2", "edit_dist")
      .as[(Long, Long, Long)].collect().toSet
    val want = (for {
      a <- texts.keys; b <- texts.keys if a < b
      d = lev(texts(a), texts(b)) if d <= 5
    } yield (a, b, d.toLong)).toSet
    assert(got == want && got.contains((0L, 1L, lev(texts(0L), texts(1L)).toLong)))
    assert(got.map(p => (p._1, p._2)) == Set((0L, 1L), (0L, 2L), (1L, 2L)))
    // tightening the bound below a pair's distance drops it
    val tight = Dedup.editPairs(docs, "doc_id", "text", k = 3, maxDist = 2)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(tight == Set((0L, 2L)))
  }

  test("importanceResample matches the brute-force Gumbel-top-n") {
    val weights = Seq(
      (0L, 500000L), (1L, -200000L), (2L, 1200000L), (3L, 0L),
      (4L, 900000L), (5L, -1500000L), (6L, 300000L), (7L, 700000L))
      .toDF("doc_id", "logw_micros")
    def h60(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(md.take(15), 16)
    }
    val want = Seq(0L, 1L, 2L, 3L, 4L, 5L, 6L, 7L).map { id =>
      val logw = Map(0L -> 500000L, 1L -> -200000L, 2L -> 1200000L,
        3L -> 0L, 4L -> 900000L, 5L -> -1500000L, 6L -> 300000L,
        7L -> 700000L)(id)
      val u = (h60(s"rs_$id") + 1).toDouble / 1152921504606846977L.toDouble
      val g = math.round(-math.log(-math.log(u)) * 1e6)
      (id, logw, g, logw + g)
    }.sortBy { case (id, _, _, key) => (-key, id) }.take(3).toSet
    val got = Curation.importanceResample(weights, "doc_id", "logw_micros",
        n = 3, salt = "rs")
      .select("doc_id", "logw_micros", "gumbel_micros", "key_micros")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == want)
  }

  test("token/piece counts and fingerprints") {
    val t = Seq("ab cd3 e!").toDF("text")
    val row = t.select(
      TextAnalysis.tokenCount(col("text")),
      TextAnalysis.pieceCount(col("text"))).head
    assert(row.getLong(0) == 3L)
    assert(row.getLong(1) == 5L) // ab | cd | 3 | e | !

    // rolling fingerprint is order-sensitive, md5 fp is whitespace-robust
    val fps = Seq("a b c", "c b a", " a  b c ").toDF("text")
      .select(TextAnalysis.rollingFingerprint(col("text")),
        TextAnalysis.md5Fingerprint(col("text")))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(fps(0)._1 != fps(1)._1)
    assert(fps(0)._2 == fps(2)._2)
    assert(fps(0)._2 != fps(1)._2)
  }

  test("native expressions match their HOF/built-in formulations") {
    // This pins the cross-engine contract: the fast native exprs must
    // produce bit-identical values to the declarative forms the DuckDB
    // oracle mirrors.
    val t = docs.select(col("doc_id"), TextAnalysis.tokens(col("text")).as("w"))

    // hash60: JVM md5 == conv(substring(md5,1,15),16,10)
    val h = t.select(explode(col("w")).as("s"))
      .select(Hashing.hash60(col("s")).as("builtin"), col("s")).distinct()
      .collect()
    h.foreach { r =>
      assert(r.getLong(0) == ArrayExprs.hash60(
        org.apache.spark.unsafe.types.UTF8String.fromString(r.getString(1))))
    }

    // shingles: native == array_distinct(transform(sequence...))
    val k = 3
    val hofShingles = array_distinct(transform(
      sequence(lit(1), greatest(size(col("w")) - (k - 1), lit(1))),
      i => concat_ws(" ", (0 until k).map(o => element_at(col("w"), i + o)): _*)))
    assert(t.filter(ArrayExprs.wordShingles(col("w"), k) =!= hofShingles).count() == 0)

    // minhash signature: native == per-permutation array_min(transform)
    val hm = transform(ArrayExprs.wordShingles(col("w"), k),
      s => Hashing.hash60(s) % Hashing.P)
    assert(t.filter(ArrayExprs.minhashSig(ArrayExprs.wordShingles(col("w"), k),
      Hashing.seeds(8)) =!= Dedup.minhashSignature(hm, 8)).count() == 0)

    // simhash: native == 60-fold HOF aggregate
    val hs = transform(col("w"), w => Hashing.hash60(w))
    assert(t.filter(ArrayExprs.simhash60(col("w")) =!= Dedup.simhash(hs)).count() == 0)

    // rolling hash: native == sequential aggregate fold
    val hofRoll = aggregate(col("w"), lit(0L),
      (acc, w) => (acc * TextAnalysis.RollB + Hashing.hash60(w) % Hashing.P) % Hashing.P)
    assert(t.filter(ArrayExprs.rollingHash(col("w"), TextAnalysis.RollB,
      Hashing.P) =!= hofRoll).count() == 0)

    // dot product: native == zip_with + sequential aggregate
    val vecs = Seq((Seq(1.5, -2.25, 3.0), Seq(0.5, 4.0, -1.25))).toDF("a", "b")
    val hofDot = aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)
    assert(vecs.filter(ArrayExprs.dotProduct(col("a"), col("b")) =!= hofDot).count() == 0)

    // hash60Array: native == array_distinct(transform(xs, hash60))
    val sh3 = ArrayExprs.wordShingles(col("w"), k)
    assert(t.filter(ArrayExprs.hash60Array(sh3) =!=
      array_distinct(transform(sh3, s => Hashing.hash60(s)))).count() == 0)

    // minhash from pre-hashed shingles == minhash from the strings
    assert(t.filter(ArrayExprs.minhashSigFromHashes(
      ArrayExprs.hash60Array(sh3), Hashing.seeds(8)) =!=
      ArrayExprs.minhashSig(sh3, Hashing.seeds(8))).count() == 0)

    // stopword hits: native == size(filter(xs, isInCollection))
    val ws = TextAnalysis.LangProfiles.head._2
    assert(t.filter(ArrayExprs.stopwordHits(col("w"), ws) =!=
      size(filter(col("w"), x => x.isInCollection(ws))).cast("long")).count() == 0)

    // jaccardMicros60: native == size(array_intersect) formulation
    val hsDocs = docs.select(Dedup.hashedShingles(col("text"), 3).as("hs"))
    val hsPairs = hsDocs.as("l").crossJoin(hsDocs.as("r"))
    assert(hsPairs.filter(ArrayExprs.jaccardMicros60(col("l.hs"), col("r.hs")) =!=
      Dedup.jaccardMicros(col("l.hs"), col("r.hs"))).count() == 0)
  }

  test("as-of join: greatest right ts <= left ts per key, ties match, none -> null") {
    val left = Seq(("k", 5L, "e1"), ("k", 10L, "e2"), ("k", 15L, "e3"),
      ("k", 25L, "e4"), ("z", 7L, "e5"))
      .toDF("key", "ts_us", "name")
    val right = Seq(("k", 10L), ("k", 20L)).toDF("key", "ts_us")
    val out = AsOf.joinTs(left, right, Seq("key"), "ts_us")
      .select("name", "asof_ts").as[(String, Option[Long])].collect().toMap
    assert(out == Map("e1" -> None, "e2" -> Some(10L), "e3" -> Some(10L),
      "e4" -> Some(20L), "e5" -> None))

    // the two-phase variant is exact at every bucket width, incl.
    // widths that strand buckets with no mark (carry-in path) and
    // width 1 (every row its own bucket)
    for (bw <- Seq(1L, 3L, 7L, 100L)) {
      val out2 = AsOf.joinTsTwoPhase(left, right, Seq("key"), "ts_us", bw)
        .select("name", "asof_ts").as[(String, Option[Long])].collect().toMap
      assert(out2 == out, s"bucketWidth=$bw")
    }
  }

  test("dup clusters: star contraction finds component reps") {
    // components: {1,2,3,9} (chain 1-2, 2-3, 3-9), {5,7}, {8,11}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 9L), (5L, 7L), (8L, 11L))
      .toDF("id1", "id2")
    val out = Dedup.dupClusters(pairs).as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 1L,
      5L -> 5L, 7L -> 5L, 8L -> 8L, 11L -> 8L))
  }

  test("prefix-filtered jaccard equals full posting-list jaccard at any threshold") {
    for (th <- Seq(0.2, 0.5, 0.8)) {
      val full = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, th)
        .select("id1", "id2", "jacc_micros").as[(Long, Long, Long)].collect().toSet
      val pref = Dedup.ngramJaccardPairsPrefix(docs, "doc_id", "text", 3, th)
        .select("id1", "id2", "jacc_micros").as[(Long, Long, Long)].collect().toSet
      assert(pref == full, s"threshold $th")
    }
  }

  test("salted posting join equals the unsalted one on a hot-shingle skewed fixture") {
    // every doc shares one boilerplate phrase -> its shingles are hot
    // (df = 24, the whole corpus); pairs additionally share real
    // near-dup content. The skew source is exactly the X4 hot case.
    val boiler = "common legal header text appended to every document"
    val skewed = (0 until 24).map { i =>
      val body = if (i % 2 == 0) s"alpha beta gamma delta epsilon zeta doc$i"
        else s"alpha beta gamma delta epsilon eta doc$i"
      (i.toLong, s"$boiler $body")
    }.toDF("doc_id", "text")
    for (th <- Seq(0.2, 0.5); salts <- Seq(2, 5)) {
      val full = Dedup.ngramJaccardPairs(skewed, "doc_id", "text", 3, th)
        .select("id1", "id2", "jacc_micros").as[(Long, Long, Long)].collect().toSet
      val salted = Dedup.ngramJaccardPairsSalted(skewed, "doc_id", "text", 3, th,
          hotFraction = 0.4, salts = salts)
        .select("id1", "id2", "jacc_micros").as[(Long, Long, Long)].collect().toSet
      assert(salted == full, s"threshold $th salts $salts")
      assert(full.nonEmpty)
    }
  }

  test("skewed-slice ladder: the profile surfaces the hot key and salting provably spreads its reducer work") {
    // the `Probe skew` fixture shape at spec scale: boilerplate in 20%
    // of docs -> its shingles are the hot join keys
    val docs = Probe.skewedDocs(
      (0 until 50).map(i => (i.toLong,
        s"u${i}a u${i}b u${i}c u${i}d u${i}e u${i}f u${i}g u${i}h"))
        .toDF("doc_id", "text").withColumn("lang", lit("en"))
        .withColumn("source", lit("s")))
    val posts = docs.select(col("doc_id"),
      explode(Dedup.hashedShingles(col("text"), 3)).as("h"))

    // (a) the skew measurement says exactly "salt this": top key df =
    // the boilerplate slice (10 docs of 50), skew factor >> 1
    val top = Diagnostics.keyProfile(posts, "h", topN = 1).head()
    assert(top.getAs[Long]("cnt") == 10L)
    // skew factor (share · n_keys / 1e6): uniform hashing predicts ~1;
    // the boilerplate key sits several-fold above it
    assert(top.getAs[Long]("share_micros") * top.getAs[Long]("n_keys")
      > 3L * 1000000L)

    // (b) reducer spread, deterministically: the unsalted join groups
    // all df postings of a hot key under ONE key (df^2 pair work);
    // the salted build side splits them across `salts` (h, salt)
    // groups, so the max per-group size - the straggler bound - drops
    // by ~salts
    val salts = 5
    val df = posts.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val hotDf = df.agg(max(col("df"))).head().getLong(0)
    assert(hotDf == 10L)
    val maxSalted = posts
      .join(df.filter(col("df") === hotDf).select("h"), "h")
      .withColumn("salt", pmod(hash(col("doc_id")), lit(salts)))
      .groupBy(col("h"), col("salt")).agg(count(lit(1)).as("c"))
      .agg(max(col("c"))).head().getLong(0)
    assert(maxSalted < hotDf,
      s"salting left a whole hot key on one reducer ($maxSalted of $hotDf)")
    assert(maxSalted <= hotDf / salts + 2) // ~df/salts under hash spread
  }

  test("contamination: pasted benchmark text is full containment; split is hash-stable") {
    val bench = "alpha beta gamma delta epsilon zeta eta theta"
    val fixture = Seq(
      (0L, bench),                                      // eval doc
      (1L, s"intro words then $bench plus a long tail of unrelated prose"),
      (2L, "completely different content with no shared trigrams at all here"))
      .toDF("doc_id", "text")
    val out = Curation.contamination(fixture, "doc_id", "text",
        col("doc_id") === 0, k = 3)
      .as[(Long, Long, Long)].collect().toSet
    // doc 1 contains every benchmark trigram -> containment 1.0; doc 2
    // shares none and never appears
    assert(out == Set((0L, 1L, 1000000L)))

    // split assignment depends only on the id — growing the corpus
    // can't move a doc between splits
    val s1 = Curation.splitCounts(fixture, "doc_id", "text",
        "text", 70, 15)
    val small = fixture.limit(1)
    val a = Curation.splitOf(col("doc_id"), 70, 15)
    val bySmall = small.select(col("doc_id"), a).as[(Long, String)].collect().toMap
    val byFull = fixture.select(col("doc_id"), a).as[(Long, String)].collect().toMap
    assert(bySmall.forall { case (k2, v) => byFull(k2) == v })
    assert(s1.collect().nonEmpty)
  }

  test("GraftExtensions: native functions callable from plain SQL") {
    docs.createOrReplaceTempView("ext_docs")
    val row = spark.sql(
      """SELECT simhash60(split(text, ' ')) AS sh,
        |  size(word_shingles(split(text, ' '), 3)) AS n,
        |  rolling_hash(split(text, ' ')) AS rh,
        |  minhash_sig(word_shingles(split(text, ' '), 3), 8)[0] AS m0,
        |  dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS dp,
        |  jaccard_micros60(hash60_array(split(text, ' ')),
        |                   hash60_array(split(text, ' '))) AS selfj,
        |  minhash_sig_from_hashes(hash60_array(word_shingles(split(text, ' '), 3)), 8)[0] AS mh0,
        |  stopword_hits(split(text, ' '), 'the,a,of') AS hits
        |FROM ext_docs WHERE doc_id = 0""".stripMargin).head()
    val expected = docs.filter(col("doc_id") === 0).select(
      ArrayExprs.simhash60(TextAnalysis.tokens(col("text"))),
      size(Dedup.shingles(TextAnalysis.tokens(col("text")), 3)),
      TextAnalysis.rollingFingerprint(col("text"))).head()
    assert(row.getLong(0) == expected.getLong(0))
    assert(row.getInt(1) == expected.getInt(1))
    assert(row.getLong(2) == expected.getLong(2))
    assert(row.getDouble(4) == 11.0)
    assert(row.getLong(5) == 1000000L) // self-jaccard
    assert(row.getLong(6) == row.getLong(3)) // from-hashes == from-strings
    assert(row.getLong(7) == 2L) // 'the' occurs twice in doc 0

    val picks = spark.sql(
      """SELECT arg_top_m_cos(array(1.0d, 0.0d), 1.0d,
        |    array(array(0.0d, 1.0d), array(1.0d, 0.0d)), array(1.0d, 1.0d), 1) AS p,
        |  arg_min_l2(array(1.0d, 0.0d),
        |    array(array(0.0d, 1.0d), array(1.0d, 0.0d)), array(0.5d, 0.5d)) AS l2""".stripMargin)
      .head()
    assert(picks.getSeq[Int](0) == Seq(1) && picks.getInt(1) == 1)

    // SQ encode/reconstruct round-trip through SQL: lo=0, hi=1e6 →
    // code = floor(v*255...), recon lands mid-bucket
    val sq = spark.sql(
      """SELECT sq_encode(array(1.0d, 0.0d), array(0.0d, 0.0d),
        |    array(1000000.0d, 1000000.0d), false) AS code,
        |  sq_recon(array(255.0d, 0.0d), array(0.0d, 0.0d),
        |    array(1000000.0d, 1000000.0d)) AS rv""".stripMargin).head()
    assert(sq.getSeq[Double](0) == Seq(255.0, 0.0))
    assert(sq.getSeq[Double](1) == Seq((255.5) * 1000000.0 / 255.0, 0.5 * 1000000.0 / 255.0))

    // fractional max_code literal: SQL parses `15.0` as a DECIMAL
    // literal — the function-builder must accept it as numeric
    // (ADVICE r12), and it must equal the integer-literal spelling
    val sq4 = spark.sql(
      """SELECT sq_encode(array(1.0d), array(0.0d),
        |    array(1000000.0d), false, 15.0) AS frac,
        |  sq_encode(array(1.0d), array(0.0d),
        |    array(1000000.0d), false, 15) AS int""".stripMargin).head()
    assert(sq4.getSeq[Double](0) == sq4.getSeq[Double](1))
    assert(sq4.getSeq[Double](0) == Seq(15.0))
  }

  test("repetition stats: top-token/bigram shares and duplicate fraction on known text") {
    val reps = Seq(
      (0L, "a a a b"),              // top tok 3/4, distinct 2/4, bigrams: aa aa ab → top 2/3
      (1L, "x y z w"),              // no repetition at all
      (2L, "solo"))                 // single token: no bigrams → share 0
      .toDF("doc_id", "text")
    val out = TextAnalysis.repetitionStats(reps, "doc_id", "text")
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      (0L, 4L, 2L, 750000L, 500000L, 666667L),
      (1L, 4L, 4L, 250000L, 0L, 333333L),
      (2L, 1L, 1L, 1000000L, 0L, 0L)))
  }

  test("argTopMCos / argMinL2: rank order, tie to the lower position, short lists") {
    import org.apache.spark.sql.functions.{lit, typedLit}
    val df = Seq(Tuple1(Seq(1.0, 0.0))).toDF("v")
      .withColumn("nrm", lit(1.0))
      // positions 0,1,2: orthogonal, then two IDENTICAL best centroids
      .withColumn("cmat", typedLit(Seq(Seq(0.0, 1.0), Seq(1.0, 0.0), Seq(1.0, 0.0))))
      .withColumn("cnrms", typedLit(Seq(1.0, 1.0, 1.0)))
      .withColumn("halves", typedLit(Seq(0.5, 0.5, 0.5)))
    val picks = df.select(
        ArrayExprs.argTopMCos(col("v"), col("nrm"), col("cmat"), col("cnrms"), 2).as("p"),
        ArrayExprs.argMinL2(col("v"), col("cmat"), col("halves")).as("l2"))
      .as[(Seq[Int], Int)].head()
    assert(picks._1 == Seq(1, 2)) // tie between 1 and 2 → lower position first
    assert(picks._2 == 1)
    // m larger than the list: all positions, rank order
    val all = df.select(ArrayExprs.argTopMCos(col("v"), col("nrm"),
        col("cmat"), col("cnrms"), 9).as("p")).as[Seq[Int]].head()
    assert(all == Seq(1, 2, 0))
  }

  test("langId picks the dominant stopword profile, und on none") {
    val out = Seq(
      "the cat sat on the mat and the dog",
      "der hund und die katze und das haus",
      "xyzzy plugh qwerty")
      .toDF("text")
      .select(TextAnalysis.langId(col("text"))).as[String].collect().toSeq
    assert(out == Seq("en", "de", "und"))
  }

  test("hand-made 2x2 PNG decodes to exact pixels through the real codec") {
    // known RGB pixels, encoded with BufferedImage directly (NOT via
    // the codec's own encoder) — pins ImageIO decode + sample reads
    val img = new java.awt.image.BufferedImage(2, 2,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    img.setRGB(0, 0, (10 << 16) | (20 << 8) | 30)
    img.setRGB(1, 0, (40 << 16) | (50 << 8) | 60)
    img.setRGB(0, 1, (70 << 16) | (80 << 8) | 90)
    img.setRGB(1, 1, (255 << 16) | (0 << 8) | 128)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val media = Seq((7L, "image", bos.toByteArray, 1L, "t"))
      .toDF("media_id", "kind", "content", "n_bytes", "source")
      .as[Multimodal.MediaRow]
    val d = Multimodal.decodeImages(media).collect().head
    assert(d.width == 2 && d.height == 2 && d.channels == 3)
    // sum = 10+20+30+40+50+60+70+80+90+255+0+128 = 833 over 12 samples
    assert(d.brightness_micros == 833L * 1000000 / 12)
    val f = Multimodal.imageFeatures(media).collect()
      .map(x => x.feat_idx -> x.feat_val).toMap
    // channel 0 (R): 10+40+70+255 = 375; sq: 100+1600+4900+65025
    assert(f(0L) == 375L * 1000000 / 4)
    assert(f(1L) == 71625L * 1000000 / 4)
    // channel 2 (B): 30+60+90+128 = 308
    assert(f(4L) == 308L * 1000000 / 4)
  }

  test("fixture PNGs round-trip the pixel formula; resize resamples nearest-neighbor exactly") {
    // ids cover gray + rgb and non-square dims
    val ids = Seq(0L, 1L, 2L, 7L, 58L, 123L)
    val docs = ids.toDF("doc_id")
    val media = Multimodal.imageFixture(docs)
    // every staged payload is a genuine PNG (magic bytes), not text
    media.collect().foreach { m =>
      assert(m.content.take(4).toSeq ==
        Seq(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte))
    }
    def expDecode(id: Long) = {
      val (w, h, ch) = (Multimodal.fixtureWidth(id),
        Multimodal.fixtureHeight(id), Multimodal.fixtureChannels(id))
      val sum = (for (y <- 0 until h; x <- 0 until w; c <- 0 until ch)
        yield Multimodal.pixelValue(id, x, y, c).toLong).sum
      (id, w.toLong, h.toLong, ch.toLong, sum * 1000000 / (w * h * ch))
    }
    val got = Multimodal.decodeImages(media).collect()
      .map(d => (d.media_id, d.width, d.height, d.channels,
        d.brightness_micros)).toSet
    assert(got == ids.map(expDecode).toSet)

    val maxDim = 16
    def expResize(id: Long) = {
      val (w, h, ch) = (Multimodal.fixtureWidth(id),
        Multimodal.fixtureHeight(id), Multimodal.fixtureChannels(id))
      val longest = math.max(w, h)
      val ow = math.max(1, w * maxDim / longest)
      val oh = math.max(1, h * maxDim / longest)
      val sum = (for (y <- 0 until oh; x <- 0 until ow; c <- 0 until ch)
        yield Multimodal.pixelValue(id, x * w / ow, y * h / oh, c).toLong).sum
      (id, ow.toLong, oh.toLong, sum * 1000000 / (ow * oh * ch))
    }
    val rz = Multimodal.resizeImages(media, maxDim).collect()
      .map(r => (r.media_id, r.out_width, r.out_height,
        r.resized_brightness_micros)).toSet
    assert(rz == ids.map(expResize).toSet)
  }

  test("hand-made WAV decodes to exact container properties and signal stats") {
    // 4 known 16-bit samples, stereo, 4 kHz — encoded with the JDK
    // directly (not via the codec's own encoder)
    val pcmVals = Seq(100, -200, 32767, -32768) // (L,R),(L,R)
    val pcm = pcmVals.flatMap(v =>
      Seq((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)).toArray
    val fmt = new javax.sound.sampled.AudioFormat(4000f, 16, 2, true, false)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, 2L),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val media = Seq((3L, "audio", bos.toByteArray, 1L, "t"))
      .toDF("media_id", "kind", "content", "n_bytes", "source")
      .as[Multimodal.MediaRow]
    val d = Multimodal.decodeAudio(media).collect().head
    assert(d.sample_rate == 4000L && d.channels == 2 && d.n_frames == 2)
    assert(d.duration_micros == 2L * 1000000 / 4000)
    val sq = pcmVals.map(v => v.toLong * v).sum
    assert(d.power == sq / 4)
    assert(d.peak == 32768L)
  }

  test("fixture WAVs round-trip the sample formula; non-PCM16 and junk drop") {
    val ids = Seq(0L, 1L, 2L, 5L, 58L)
    val media = Multimodal.audioFixture(ids.toDF("doc_id"))
    media.collect().foreach(m =>
      assert(new String(m.content.take(4), "US-ASCII") == "RIFF"))
    def exp(id: Long) = {
      val (nf, ch, rate) = (Multimodal.audioFrames(id),
        Multimodal.audioChannels(id), Multimodal.audioRate(id))
      val vs = for (i <- 0 until nf; c <- 0 until ch)
        yield Multimodal.sampleValue(id, i, c).toLong
      (id, rate.toLong, ch.toLong, nf.toLong, nf.toLong * 1000000 / rate,
        vs.map(v => v * v).sum / (nf * ch), vs.map(math.abs).max)
    }
    val got = Multimodal.decodeAudio(media).collect()
      .map(d => (d.media_id, d.sample_rate, d.channels, d.n_frames,
        d.duration_micros, d.power, d.peak)).toSet
    assert(got == ids.map(exp).toSet)

    val junk = Seq((9L, "audio", "RIFFnot really wav".getBytes("UTF-8"), 1L, "t"))
      .toDF("media_id", "kind", "content", "n_bytes", "source")
      .as[Multimodal.MediaRow]
    assert(Multimodal.decodeAudio(junk).collect().isEmpty)
  }

  test("JPEG and RGBA PNGs decode through the same swap point (dims exact; alpha drops to 3 channels)") {
    def png(img: java.awt.image.BufferedImage, fmt: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, bos)
      bos.toByteArray
    }
    // JPEG: lossy, so pixel values aren't bit-checked — dims/channels
    // are, and brightness must land near the uniform gray we encoded
    val j = new java.awt.image.BufferedImage(6, 4,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until 4; x <- 0 until 6) j.setRGB(x, y, 0x808080)
    // RGBA: 4-band raster reports 3 channels (alpha dropped)
    val a = new java.awt.image.BufferedImage(3, 2,
      java.awt.image.BufferedImage.TYPE_INT_ARGB)
    for (y <- 0 until 2; x <- 0 until 3) a.setRGB(x, y, 0x80ff0000) // half-alpha red
    val media = Seq(
      (1L, "image", png(j, "jpg"), 1L, "t"),
      (2L, "image", png(a, "png"), 1L, "t"))
      .toDF("media_id", "kind", "content", "n_bytes", "source")
      .as[Multimodal.MediaRow]
    val d = Multimodal.decodeImages(media).collect()
      .map(x => x.media_id -> x).toMap
    assert(d(1L).width == 6 && d(1L).height == 4 && d(1L).channels == 3)
    assert(math.abs(d(1L).brightness_micros - 128L * 1000000) < 3000000,
      s"jpeg gray decoded far from encoded value: ${d(1L).brightness_micros}")
    assert(d(2L).width == 3 && d(2L).height == 2 && d(2L).channels == 3)
    // alpha dropped, color kept: mean of (255, 0, 0) = 85
    assert(d(2L).brightness_micros == 255L * 1000000 / 3)
  }

  test("fixture AVIs demux through the real RIFF parser; sampled frames decode to the formula") {
    val ids = Seq(0L, 1L, 3L, 58L)
    val media = Multimodal.videoFixture(ids.toDF("doc_id"))
    media.collect().foreach { m =>
      assert(new String(m.content.take(4), "US-ASCII") == "RIFF")
      assert(new String(m.content.slice(8, 12), "US-ASCII") == "AVI ")
    }
    // the demuxer reads the real avih header + all frame chunks
    val codec = new Multimodal.VideoCodec
    val one = codec.parseAvi(codec.encodeFixtureAvi(3L)).get
    assert(one.totalFrames == Multimodal.videoFrameCount(3L))
    assert(one.width == Multimodal.fixtureWidth(3L))
    assert(one.microSecPerFrame == 40000L)
    assert(one.frames.size == one.totalFrames)

    val (stride, maxFrames) = (2, 3)
    def exp(id: Long) = {
      val (w, h) = (Multimodal.fixtureWidth(id), Multimodal.fixtureHeight(id))
      (0 until Multimodal.videoFrameCount(id))
        .filter(f => f % stride == 0 && f / stride < maxFrames)
        .map { f =>
          val sum = (for (y <- 0 until h; x <- 0 until w; c <- 0 until 3)
            yield Multimodal.framePixel(id, f, x, y, c).toLong).sum
          (id, f.toLong, w.toLong, h.toLong, sum * 1000000 / (w * h * 3))
        }
    }
    val got = Multimodal.decodeVideoFrames(media, stride, maxFrames)
      .collect().map(d => (d.media_id, d.frame_idx, d.width, d.height,
        d.brightness_micros)).toSet
    assert(got == ids.flatMap(exp).toSet)

    // non-AVI bytes drop (magic check), as do non-decodable frames
    val junk = Seq((9L, "video", "RIFFxxxxNOPE".getBytes("UTF-8"), 1L, "t"))
      .toDF("media_id", "kind", "content", "n_bytes", "source")
      .as[Multimodal.MediaRow]
    assert(Multimodal.decodeVideoFrames(junk, 1, 4).collect().isEmpty)
  }

  test("undecodable media bytes drop; video frames only sample the video modality") {
    val junk = Seq((1L, "image", "not a png at all".getBytes("UTF-8"), 1L, "t"))
      .toDF("media_id", "kind", "content", "n_bytes", "source")
      .as[Multimodal.MediaRow]
    assert(Multimodal.decodeImages(junk).collect().isEmpty)
    assert(Multimodal.resizeImages(junk, 16).collect().isEmpty)
    assert(Multimodal.imageFeatures(junk).collect().isEmpty)

    val media = Multimodal.mediaFromDocuments(
      Seq((0L, "hello world frame data here ok!!", "s0"))
        .toDF("doc_id", "text", "source")
        .withColumn("lang", lit("en")).withColumn("n_chars", length(col("text"))))
    // doc_id 0 → kind image → the video frame extractor skips it
    assert(Multimodal.extractFrames(media, stride = 2, maxFrames = 3)
      .collect().isEmpty)
  }

  test("frame extraction: demux-only sampling matches the fixture law; chunks slice byte-exactly") {
    val ids = Seq(0L, 1L, 4L, 33L)
    val media = Multimodal.videoFixture(ids.toDF("doc_id"))
    val (stride, maxFrames) = (2, 3)
    val got = Multimodal.extractFrames(media, stride, maxFrames)
      .collect().map(f => (f.media_id, f.frame_idx, f.width, f.height,
        f.n_frames, f.frame_micros)).toSet
    val exp = ids.flatMap { id =>
      val nf = Multimodal.videoFrameCount(id)
      (0 until nf).filter(f => f % stride == 0 && f / stride < maxFrames)
        .map(f => (id, f.toLong, Multimodal.fixtureWidth(id).toLong,
          Multimodal.fixtureHeight(id).toLong, nf.toLong, f * 40000L))
    }.toSet
    assert(got == exp)

    // the byte deliverable: each demuxed chunk is EXACTLY the
    // independently-encoded still for that (id, frame) — proves the
    // RIFF walk slices the right byte ranges with no decode involved
    val codec = new Multimodal.VideoCodec
    val id = 4L
    val m = Multimodal.MediaRow(id, "video", codec.encodeFixtureAvi(id),
      0L, "t")
    val chunks = codec.extractChunks(m, stride, maxFrames)
    val sampled = (0 until Multimodal.videoFrameCount(id))
      .filter(f => f % stride == 0 && f / stride < maxFrames)
    assert(chunks.size == sampled.size)
    sampled.zip(chunks).foreach { case (f, chunk) =>
      // a real PNG payload, untouched by the extractor…
      assert(chunk.take(4).drop(1).sameElements("PNG".getBytes("US-ASCII")))
      // …that independently decodes to frame f's pixel law — the
      // slice grabbed the RIGHT frame's bytes, whole and uncorrupted
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(chunk))
      assert(img.getWidth == Multimodal.fixtureWidth(id)
        && img.getHeight == Multimodal.fixtureHeight(id))
      for (y <- 0 until img.getHeight; x <- 0 until img.getWidth) {
        val rgb = img.getRGB(x, y)
        assert(((rgb >> 16) & 0xff) == Multimodal.framePixel(id, f, x, y, 0))
        assert((rgb & 0xff) == Multimodal.framePixel(id, f, x, y, 2))
      }
    }

    // non-AVI bytes drop at the magic check — no frames, no error
    val junk = Seq((9L, "video", "RIFFxxxxNOPE".getBytes("UTF-8"), 1L, "t"))
      .toDF("media_id", "kind", "content", "n_bytes", "source")
      .as[Multimodal.MediaRow]
    assert(Multimodal.extractFrames(junk, 1, 4).collect().isEmpty)
  }

  test("substring spans: maximal verbatim run found with exact boundaries") {
    // doc 0 and 1 share tokens 4..13 of doc0 (a 10-token verbatim run
    // starting at position 2 of doc1); elsewhere unrelated
    val shared = (1 to 10).map(i => s"common$i").mkString(" ")
    val d = Seq(
      (0L, s"alpha beta gamma $shared tail0 tail1"),
      (1L, s"intro $shared out0 out1 out2"),
      (2L, "totally unrelated words only here"))
      .toDF("doc_id", "text")
    val spans = Dedup.substringSpans(d, "doc_id", "text",
        k = 3, minTokens = 5, maxDf = 10)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // one maximal span: doc0 pos 4 (1-based), doc1 pos 2, 10 tokens
    assert(spans == Seq((0L, 1L, 4L, 2L, 10L)))
    // below minTokens → silent
    assert(Dedup.substringSpans(d, "doc_id", "text",
      k = 3, minTokens = 11, maxDf = 10).count() == 0)
    // df cap: a gram in every doc is dropped; with maxDf = 1 nothing
    // can ever match (every matched gram is in >= 2 docs)
    assert(Dedup.substringSpans(d, "doc_id", "text",
      k = 3, minTokens = 5, maxDf = 1).count() == 0)
  }

  test("pii redaction replaces emails, phones and ips; counts audit them") {
    val d = Seq(
      (0L, "mail me at jane.doe+x@example.co.uk or call 555-123-4567 now"),
      (1L, "server at 10.0.255.3 and 192.168.1.1 no contact"),
      (2L, "plain text with no pii at all"))
      .toDF("doc_id", "text")
    val out = d.select(col("doc_id"),
        TextAnalysis.piiRedact(col("text")).as("red"),
        TextAnalysis.piiCounts.head._2(col("text")).as("n_emails"),
        TextAnalysis.piiCounts(1)._2(col("text")).as("n_phones"),
        TextAnalysis.piiCounts(2)._2(col("text")).as("n_ips"))
      .orderBy("doc_id")
      .as[(Long, String, Long, Long, Long)].collect().toSeq
    assert(out(0)._2 == "mail me at <EMAIL> or call <PHONE> now")
    assert((out(0)._3, out(0)._4, out(0)._5) == (1L, 1L, 0L))
    assert(out(1)._2 == "server at <IP> and <IP> no contact")
    assert((out(1)._3, out(1)._4, out(1)._5) == (0L, 0L, 2L))
    assert(out(2)._2 == "plain text with no pii at all")
    assert((out(2)._3, out(2)._4, out(2)._5) == (0L, 0L, 0L))
  }

  test("stratified sample takes an exact per-source quota, reproducibly") {
    val many = spark.range(100).select(col("id").as("doc_id"),
      concat(lit("s"), pmod(col("id"), lit(3))).as("source"))
    val out = Curation.stratifiedSample(many, "doc_id", "source", n = 5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.groupBy(_._1).view.mapValues(_.length).toMap ==
      Map("s0" -> 5, "s1" -> 5, "s2" -> 5))
    assert(out.forall(_._3 <= 5))
    // deterministic: a rerun picks the identical docs
    val again = Curation.stratifiedSample(many, "doc_id", "source", n = 5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.toSet == again.toSet)
    // quota larger than the stratum → the whole stratum
    val all = Curation.stratifiedSample(many, "doc_id", "source", n = 1000)
    assert(all.count() == 100)
  }

  test("epoch shuffle: plain-Scala reference, epoch-fresh order, stable shards") {
    val ids = 0L until 60L
    val many = spark.range(60).select(col("id").as("doc_id"))
    val nS = 4
    val out = Curation.epochShuffle(many, "doc_id", nS, salt = "e1")
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out == PlainRefs.epochDigest(ids, nS, "e1"))

    // the fingerprint must SEE order, not just membership: the same
    // docs with positions reversed (or any two transposed) must land
    // a DIFFERENT ord_fp in every multi-doc shard
    val reversed = PlainRefs.epochDigest(ids, nS, "e1",
      posOf = (p, n) => n + 1 - p)
    out.foreach { case (s, (n, _, fp)) =>
      if (n > 1) assert(reversed(s)._3 != fp, s"shard $s fp order-blind")
    }
    val swapped = PlainRefs.epochDigest(ids, nS, "e1",
      posOf = (p, _) => if (p == 1) 2 else if (p == 2) 1 else p)
    out.foreach { case (s, (n, _, fp)) =>
      if (n > 1) assert(swapped(s)._3 != fp, s"shard $s fp misses transposition")
    }

    // a different epoch salt keeps membership, changes the order
    val e2 = Curation.epochShuffle(many, "doc_id", nS, salt = "e2")
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(e2 == PlainRefs.epochDigest(ids, nS, "e2"))
    assert(out.keySet == e2.keySet)
    assert(out.forall { case (s, (n, _, _)) => e2(s)._1 == n }) // same docs
    assert(out.exists { case (s, (_, _, fp)) => e2(s)._3 != fp }) // new order

    // rerun replays bit-for-bit
    val again = Curation.epochShuffle(many, "doc_id", nS, salt = "e1")
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(again == out)
  }

  test("dedup-aware sample: cluster losers never sampled, the rep " +
      "survives, equals the plain sample over survivors") {
    val dup = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (0L, dup, "A"), // rep (min id of the dup cluster)
      (7L, dup, "A"), // exact twin -> cluster loser
      (1L, "one completely different document here", "A"),
      (2L, "another unrelated piece of text entirely", "A"),
      (3L, "yet more unique words nothing shared", "B"))
      .toDF("doc_id", "text", "source")
    val sampled = Curation.dedupedSample(docs, "doc_id", "text", "source",
        n = 10, k = 3, numHashes = 32, bands = 8, rows = 4,
        threshold = 0.2)
      .select("source", "doc_id", "rank")
      .as[(String, Long, Long)].collect().toSet
    val ids = sampled.map(_._2)
    assert(!ids.contains(7L)) // the loser twin is structurally absent
    assert(ids.contains(0L)) // the rep is sampleable (n covers all)
    // == the plain stratified sample over docs-minus-losers
    val want = Curation.stratifiedSample(docs.filter(col("doc_id") =!= 7),
        "doc_id", "source", n = 10)
      .select("source", "doc_id", "rank")
      .as[(String, Long, Long)].collect().toSet
    assert(sampled == want)
  }

  test("embedding snapshot drift: orthogonal move -> 0, identical -> 1e6, " +
      "single-snapshot labels drop") {
    // label 0 rotates 90 degrees between snapshots; label 1 is
    // unchanged; label 2 exists only in snapshot 1 (even ids)
    val embs = Seq(
      (0L, Seq(1f, 0f), 0), (2L, Seq(1f, 0f), 0),   // v1 centroid (1,0)
      (1L, Seq(0f, 1f), 0), (3L, Seq(0f, 1f), 0),   // v2 centroid (0,1)
      (4L, Seq(0.6f, 0.8f), 1), (5L, Seq(0.6f, 0.8f), 1),
      (6L, Seq(1f, 1f), 2))
      .toDF("vec_id", "embedding", "label")
    val out = Diagnostics.embeddingSnapshotDrift(embs, "embedding",
        "label", col("vec_id") % 2 === 0)
      .select("label", "n_v1", "n_v2", "centroid_cos_micros")
      .as[(Int, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(0) == ((2L, 2L, 0L)))       // orthogonal: cos 0
    assert(out(1) == ((1L, 1L, 1000000L))) // unchanged: cos 1
    assert(!out.contains(2))               // no v2 side -> no pair
  }

  test("exemplars: a signal-dominant doc ranks first; degenerate ranges " +
      "pin to 0.5; empty/null text drops") {
    // src A: doc 0 dominates every signal (longer, diverse, no
    // repetition) vs doc 1 (short, repetitive). src B: two docs with
    // IDENTICAL signals — both ranges degenerate, fused = 0.5
    // everywhere, tie broken by doc_id
    val docs = Seq(
      (0L, "alpha bravo charlie delta echo foxtrot golf hotel india", "A"),
      (1L, "spam spam spam spam", "A"),
      (2L, "same words here", "B"),
      (3L, "same words here", "B"),
      (4L, null.asInstanceOf[String], "A"),
      (5L, "", "A"))
      .toDF("doc_id", "text", "source")
    val out = Curation.qualityFuseTopN(docs, "doc_id", "text", "source",
        n = 2)
      .select("source", "rank", "doc_id", "fused_micros")
      .as[(String, Long, Long, Long)].collect().toSeq.sorted
    // null text (4) and zero-token text (5) never surface
    assert(!out.exists(r => r._3 == 4L || r._3 == 5L))
    val a = out.filter(_._1 == "A")
    assert(a.map(r => (r._2, r._3)) == Seq((1L, 0L), (2L, 1L)))
    assert(a.head._4 > a(1)._4) // dominance is strict, not a tie-break
    val b = out.filter(_._1 == "B")
    // all three B ranges are degenerate → 0.4·0.5 + 0.3·0.5 + 0.3·0.5
    assert(b.map(_._4).distinct == Seq(500000L))
    assert(b.map(r => (r._2, r._3)) == Seq((1L, 2L), (2L, 3L)))
  }

  test("exemplar freeze/serve: frozen-on-self == batch fusion exactly; " +
      "out-of-range clamps; unseen source drops; stream == batch") {
    val freeze = Seq(
      (0L, "alpha bravo charlie delta echo foxtrot golf hotel india", "A"),
      (1L, "spam spam spam spam", "A"),
      (2L, "mid quality words mixed spam spam", "A"),
      (10L, "other source words here entirely", "B"))
      .toDF("doc_id", "text", "source")
    val frozen = Curation.freezeQualityRanges(freeze, "doc_id", "text",
      "source")
    // frozen-on-self: every value inside its own range -> clamp is a
    // no-op and fused scores equal the batch operator's exactly
    val batch = Curation.qualityFuseTopN(freeze, "doc_id", "text",
        "source", n = 100)
      .select("doc_id", "fused_micros").as[(Long, Long)].collect().toMap
    val served = Curation.scoreQualityFrozen(freeze, "doc_id", "text",
        "source", frozen)
      .select("doc_id", "fused_micros").as[(Long, Long)].collect().toMap
    assert(served == batch)
    // post-freeze ingest: an off-the-scale doc CLAMPS at the frozen
    // range ends instead of extrapolating past them (hand-computed
    // expectation below proves at least one raw norm left [0,1]);
    // an unseen source never surfaces
    val arrivalText = "zz" + (1 to 300).map(i => s"w$i").mkString(" ", " ", "")
    val arrivals = Seq((20L, arrivalText, "A"), (21L, "whatever", "C"))
      .toDF("doc_id", "text", "source")
    val out = Curation.scoreQualityFrozen(arrivals, "doc_id", "text",
        "source", frozen)
      .select("doc_id", "fused_micros").as[(Long, Long)].collect().toMap
    assert(!out.contains(21L))
    // raw signals of the arrival through the same column functions
    val (qv, ev, dupv) = Seq((20L, arrivalText)).toDF("doc_id", "text")
      .select(TextAnalysis.qualityMicros(col("text")),
        TextAnalysis.charEntropy(col("text")),
        round((lit(1.0) -
          size(array_distinct(TextAnalysis.tokens(col("text")))).cast("double")
          / size(TextAnalysis.tokens(col("text")))) * 1e6).cast("long"))
      .as[(Long, Long, Long)].head()
    val (qlo, qhi, elo, ehi, dlo, dhi) = frozen.ranges("A")
    def nrm(v: Long, lo: Long, hi: Long): Double =
      if (hi == lo) 0.5
      else math.min(1.0, math.max(0.0, (v - lo).toDouble / (hi - lo)))
    assert(qv > qhi || ev > ehi || dupv < dlo) // the clamp is exercised
    val want = math.round((nrm(qv, qlo, qhi) * 0.4 + nrm(ev, elo, ehi) * 0.3
      + (1.0 - nrm(dupv, dlo, dhi)) * 0.3) * 1e6)
    assert(out(20L) == want)
    // the streaming gate is the same map: memory-stream batches gate
    // to exactly the threshold-clearing docs
    val cut = batch.values.toSeq.sorted.apply(1) // keep top half
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, String, String)]
    in.addData(Seq((0L, "alpha bravo charlie delta echo foxtrot golf hotel india", "A"),
      (1L, "spam spam spam spam", "A")))
    val q = streaming.Pipeline.exemplarGate(
        in.toDF().toDF("doc_id", "text", "source"), frozen,
        minFusedMicros = cut)
      .writeStream.format("memory").queryName("exemplar_gate").start()
    try {
      q.processAllAvailable()
      val kept = spark.table("exemplar_gate")
        .select("doc_id").as[Long].collect().toSet
      assert(kept == batch.filter(_._2 >= cut).keySet
        .intersect(Set(0L, 1L)))
      assert(kept.contains(0L) && !kept.contains(1L))
    } finally q.stop()
  }

  test("dataset card: rank-based median, dominant language, exact counts") {
    val d = Seq(
      (0L, "the of and", "a"),     // 3 tokens, en
      (1L, "the one", "a"),        // 2 tokens, en
      (2L, "two words and", "a"),  // 3 tokens, en
      (3L, "der und ist ein x", "b")) // 5 tokens, de
      .toDF("doc_id", "text", "source")
    val card = Curation.datasetCard(d, "doc_id", "text", "source")
      .orderBy("source").collect()
    val a = card(0)
    assert(a.getAs[String]("source") == "a")
    assert(a.getAs[Long]("n_docs") == 3L && a.getAs[Long]("n_tokens") == 8L)
    // sorted token counts (2, 3, 3): median rank ceil(3/2)=2 → 3
    assert(a.getAs[Long]("med_tokens") == 3L)
    assert(a.getAs[Long]("max_tokens") == 3L)
    assert(a.getAs[String]("top_lang") == "en")
    val b = card(1)
    assert(b.getAs[Long]("n_docs") == 1L && b.getAs[Long]("med_tokens") == 5L)
    assert(b.getAs[String]("top_lang") == "de")
  }

  test("sketch error bounds: HLL within rsd band, approx p95 within rank band at large n") {
    // the driver's q_cdc_approx_stats only asserts the WIDE bands its
    // oracle can state as constants; this pins the tight published
    // bounds on a corpus big enough for them to be meaningful
    val n = 20000L
    val d = spark.range(n).select(
      (col("id") % 3000).as("user_id"),   // true distinct = 3000
      col("id").cast("double").as("value")) // uniform 0..n-1
    val r = d.agg(
      approx_count_distinct(col("user_id")).as("hll"),
      percentile_approx(col("value"), lit(0.95), lit(1000)).as("p95a"))
      .collect()(0)
    val hll = r.getAs[Long]("hll")
    // default rsd 0.05; 3 sigma = 15%
    assert(math.abs(hll - 3000L) <= 450L, s"HLL $hll vs exact 3000")
    // accuracy 1000 → rank error ≤ n/1000 = 20 ranks around rank 19000
    val p95a = r.getAs[Double]("p95a")
    assert(p95a >= (n * 0.95 - 1 - 20) && p95a <= (n * 0.95 - 1 + 20),
      s"approx p95 $p95a outside rank band")
  }

  test("random projection: equals a JVM reference; sweep widths are nested slices") {
    import spark.implicits._
    val dim = 8; val rdim = 4; val k = 3
    val data = (0L until 12L).map(i =>
      (i, Seq.tabulate(dim)(d => (((i * 31 + d * 17) % 13) - 6).toFloat / 4f), 0))
    val embs = data.toDF("vec_id", "embedding", "label")

    // independent reimplementation: same plane family, same sequential
    // left-to-right fold, same HALF_UP rounding as Spark's Round
    val planes = Similarity.hyperplanes(1, rdim, dim).head
    def pvec(ws: Seq[Long]): Seq[Double] =
      ws.map(h => h.toDouble / Hashing.P - 0.5)
    def dot(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
    def micros(x: Double): Long = java.math.BigDecimal.valueOf(x * 1e6)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue
    val vs = data.map { case (i, v, _) => i -> v.map(_.toDouble) }.toMap
    def topK(project: Seq[Double] => Seq[Double]): Map[Long, Seq[(Long, Long)]] = {
      val ps = vs.map { case (i, v) => i -> project(v) }
      (0L until 2L).map { q =>
        q -> ps.toSeq.filter(_._1 != q)
          .map { case (i, p) =>
            (i, dot(ps(q), p) / (math.sqrt(dot(ps(q), ps(q))) * math.sqrt(dot(p, p)))) }
          .sortBy { case (i, c) => (-c, i) }.take(k)
          .map { case (i, c) => (i, micros(c)) }
      }.toMap
    }
    val expReduced = topK(v => planes.map(ws => dot(v, pvec(ws))))
    val got = Similarity.rpProjectTopK(embs, "vec_id", "embedding",
        col("id") < 2, k, rdim, dim)
      .select("qid", "rank", "neighbor_id", "rcos_micros")
      .as[(Long, Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).toSeq.map(r => (r._3, r._4)))
    for (q <- 0L until 2L)
      assert(got(q) == expReduced(q), s"qid $q reduced top-$k mismatch")

    // sweep: width-rdim recall equals the JVM truth∩reduced count, and
    // every (width, qid) row is present even at recall 0
    val expExact = topK(identity)
    val expRecall = (0L until 2L).map { q =>
      val hits = expExact(q).map(_._1).toSet
        .intersect(expReduced(q).map(_._1).toSet).size
      (q, micros(hits.toDouble / k))
    }.toMap
    val sweep = Similarity.rpProjectRecallSweep(embs, "vec_id", "embedding",
        col("id") < 2, k, Seq(2, rdim), dim)
      .as[(Long, Long, Long)].collect()
    assert(sweep.length == 4) // 2 widths × 2 queries
    for ((nd, q, r) <- sweep) {
      assert(r >= 0L && r <= 1000000L)
      if (nd == rdim) assert(r == expRecall(q), s"width $nd qid $q recall")
    }
  }

  test("BPE merges: hand-computed rounds, count-weighted, pair-asc ties") {
    import spark.implicits._
    // the Sennrich corpus shape: low×5 lower×2 widest×3 newest×6
    // r1: "e s"(9) ties "s t"(9) -> pair asc picks "e s"
    // r2: "es t"(9); r3: "l o"(7) ties "o w"(7) -> "l o"; r4: "lo w"(7)
    val text = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(3)("widest") ++ Seq.fill(6)("newest")).mkString(" ")
    val docs = Seq((0L, text)).toDF("doc_id", "text")
    val got = Bpe.merges(docs, "text", rounds = 4, maxWords = 100)
      .as[(Long, String, String, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, "e s", "es", 9L), (2L, "es t", "est", 9L),
      (3L, "l o", "lo", 7L), (4L, "lo w", "low", 7L)))
    // apply side: final vocab is low(5) "low e r"(2) "w i d est"(3)
    // "n e w est"(6) -> piece weights est:9 w:9 e:8 low:7 …; top-3
    // tie-breaks (weight desc, piece asc): "est" before "w"
    val pieces = Bpe.pieceFrequencies(docs, "text", rounds = 4,
        maxWords = 100, topK = 3)
      .as[(String, Long)].collect().toSeq
    assert(pieces == Seq(("est", 9L), ("w", 9L), ("e", 8L)))
  }

  test("BPE merges: padded replace cannot match across a symbol boundary") {
    import spark.implicits._
    // boy×20 bow×9 cow×2 ow×10: r1 merges "b o"(29) -> "bo w" exists;
    // r3 merges "o w"(12) and MUST NOT rewrite "bo w" (its symbols are
    // bo|w — the unpadded string contains "o w" only across the
    // boundary); r4 then still finds "bo w"(9) intact
    val text = (Seq.fill(20)("boy") ++ Seq.fill(9)("bow") ++
      Seq.fill(2)("cow") ++ Seq.fill(10)("ow")).mkString(" ")
    val docs = Seq((0L, text)).toDF("doc_id", "text")
    val got = Bpe.merges(docs, "text", rounds = 4, maxWords = 100)
      .as[(Long, String, String, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, "b o", "bo", 29L), (2L, "bo y", "boy", 20L),
      (3L, "o w", "ow", 12L), (4L, "bo w", "bow", 9L)))
  }

  test("token JS drift: hand-computed divergences, absent tokens charged") {
    import spark.implicits._
    // A = {a:3, b:1}, B = {a:1, b:3}, corpus = {a:4, b:4}: per-token
    // contributions 12585 + 21237 micros for both sources (symmetric)
    val docs = Seq((0L, "a a a b", "A"), (1L, "a b b b", "B"))
      .toDF("doc_id", "text", "source")
    val got = Drift.tokenJsDrift(docs, "text", "source", maxVocab = 10)
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(("A", 4L, 33822L), ("B", 4L, 33822L)))
    // disjoint supports: the token a source NEVER emits still charges
    // it 0.5·q·ln 2 (m = q/2) — absent mass is drift, not a skip
    val disj = Seq((0L, "x x", "A"), (1L, "y y", "B"))
      .toDF("doc_id", "text", "source")
    val got2 = Drift.tokenJsDrift(disj, "text", "source", maxVocab = 10)
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got2 == Seq(("A", 2L, 215762L), ("B", 2L, 215762L)))
  }

  test("frozen drift twin: scoring the freeze's own corpus == the in-plan gauge") {
    import spark.implicits._
    val docs = Seq((0L, "a a a b c", "A"), (1L, "a b b b d", "B"),
      (2L, "c c d a b", "C"))
      .toDF("doc_id", "text", "source")
    val batch = Drift.tokenJsDrift(docs, "text", "source", maxVocab = 3)
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    val frozen = Drift.tokenJsFrozen(docs, "text", "source",
        Drift.freezeDistribution(docs, "text", maxVocab = 3))
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(frozen == batch)
    // a batch the freeze never saw still scores — against the FROZEN
    // reference, which is the snapshot-over-snapshot monitor shape
    val later = Seq((3L, "z z z z", "A")).toDF("doc_id", "text", "source")
    val drifted = Drift.tokenJsFrozen(later, "text", "source",
        Drift.freezeDistribution(docs, "text", maxVocab = 3))
      .as[(String, Long, Long)].collect()
    // "z" is outside the frozen support -> the batch has zero mass on
    // every vocab token: n_s = 0 over the support, every contribution
    // is the pure q-side 0.5*q*ln2, summing to ln2/2 (the p-side half
    // of the disjoint-support ln2 lives outside the vocab and is
    // invisible by construction) — the source SURFACES at the gauge's
    // maximum instead of vanishing or NaN-ing
    assert(drifted.length == 1 && drifted(0)._1 == "A")
    assert(drifted(0)._2 == 0L)
    assert(math.abs(drifted(0)._3 - 346574L) <= 2L)
  }

  test("Par.jobs: tasks overlap in time and the first failure rethrows unwrapped") {
    // overlap: with a 2-task barrier, neither task can pass the latch
    // unless both are running at once — sequential execution deadlocks
    // (bounded by the await timeout)
    val latch = new java.util.concurrent.CyclicBarrier(2)
    val hits = new java.util.concurrent.atomic.AtomicInteger
    Par.jobs(Seq(
      () => { latch.await(10, java.util.concurrent.TimeUnit.SECONDS)
        hits.incrementAndGet(): Unit },
      () => { latch.await(10, java.util.concurrent.TimeUnit.SECONDS)
        hits.incrementAndGet(): Unit }))
    assert(hits.get == 2)
    // failure: the task's own exception type surfaces, not the
    // executor's ExecutionException wrapper
    val e = intercept[IllegalStateException] {
      Par.jobs(Seq(
        () => (),
        () => throw new IllegalStateException("boom")))
    }
    assert(e.getMessage == "boom")
  }

  test("embedding drift: orthogonal cohorts sit at cos 1/sqrt(2) from the corpus") {
    import spark.implicits._
    // group 0 = all (1,0), group 1 = all (0,1); corpus centroid
    // (0.5, 0.5) -> both cohorts at cos = 0.5/sqrt(0.5) = 0.7071068
    val embs = Seq(
      (0L, Seq(1f, 0f), 0), (1L, Seq(1f, 0f), 0),
      (2L, Seq(0f, 1f), 1), (3L, Seq(0f, 1f), 1))
      .toDF("vec_id", "embedding", "label")
    val got = Drift.embeddingDrift(embs, "vec_id", "embedding", "label")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq((0L, 2L, 707107L), (1L, 2L, 707107L)))
    // frozen twin: scoring the freeze's own corpus == the in-plan
    // gauge; a drifted batch (all group-1 vectors flipped to (1,0))
    // scores group 1 at cos = 1/sqrt(2)·... vs the OLD corpus centroid
    val frozen = Drift.freezeCentroid(embs, "embedding")
    val fr = Drift.embeddingDriftFrozen(embs, "embedding", "label", frozen)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(fr == got)
    val drifted = Seq((4L, Seq(1f, 0f), 1), (5L, Seq(1f, 0f), 1))
      .toDF("vec_id", "embedding", "label")
    val d = Drift.embeddingDriftFrozen(drifted, "embedding", "label", frozen)
      .as[(Long, Long, Long)].collect().toSeq
    // group 1's batch centroid is now (1,0): same cos 1/sqrt(2) to the
    // frozen (0.5,0.5) — but against its OWN frozen-era axis (0,1) it
    // would have been 0; the gauge reads the absolute reference
    assert(d == Seq((1L, 2L, 707107L)))
  }

  test("normalizeText preserves case, kills control chars; key strips punct") {
    val d = Seq(
      (0L, "  Hello,\tWorld!  x  "),
      (1L, "a\u000bb"), // vertical tab: the Java-\s vs RE2-\s divergence char
      (2L, "NoChange here 123"),
      (3L, "")).toDF("doc_id", "text")
    val got = d.select(col("doc_id"),
        TextAnalysis.normalizeText(col("text")).as("n"),
        TextAnalysis.normalizedKey(col("text")).as("k"))
      .as[(Long, String, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (0L, "Hello, World! x", "hello world x"),
      (1L, "a b", "a b"),
      (2L, "NoChange here 123", "nochange here 123"),
      (3L, "", "")))
  }

  test("sourceCap == JVM reference top-cap per source; overflow counted") {
    // independent JVM reimplementation over the op's own quality scores
    val q = docs.select(col("source"), col("doc_id"),
        TextAnalysis.qualityMicros(col("text")).as("q"))
      .as[(String, Long, Long)].collect().toSeq
    def expect(cap: Int) = q.groupBy(_._1).flatMap { case (s, rows) =>
      rows.sortBy(r => (-r._3, r._2)).take(cap).zipWithIndex.map {
        case ((_, id, qm), i) =>
          (id, s, qm, (i + 1).toLong, math.max(rows.size - cap, 0).toLong)
      }
    }.toSet
    val got1 = Curation.sourceCap(docs, "doc_id", "text", "source", cap = 1)
      .as[(Long, String, Long, Long, Long)].collect().toSet
    assert(got1 == expect(1) && got1.size == 2) // one survivor per source
    // cap above every group size: all rows survive, zero dropped
    val gotAll = Curation.sourceCap(docs, "doc_id", "text", "source", cap = 10)
      .as[(Long, String, Long, Long, Long)].collect().toSet
    assert(gotAll == expect(10) && gotAll.size == 4)
    assert(gotAll.forall(_._5 == 0L))
    // NULL text is out of the population by contract (both engines
    // would otherwise diverge on NULL ordering)
    val withNull = docs.unionByName(
      Seq((9L, null.asInstanceOf[String], "s0")).toDF("doc_id", "text", "source"))
    val gotNull = Curation.sourceCap(withNull, "doc_id", "text", "source",
      cap = 10).as[(Long, String, Long, Long, Long)].collect().toSet
    assert(gotNull == expect(10))
  }

  test("lengthPercentiles nearest-rank values, hand-computed with ties") {
    val d = ((1 to 10).map(n => (n.toLong, "a" * n, "p1")) ++
      Seq((11L, "bb", "p2"), (12L, "cc", "p2"), (13L, "dd", "p2"),
        (14L, "eeeeeee", "p2"),
        (15L, null.asInstanceOf[String], "p2"))) // excluded by contract
      .toDF("doc_id", "text", "source")
    val got = Curation.lengthPercentiles(d, "doc_id", "text", "source")
      .as[(String, Long, Long, Long)].collect().toSet
    // p1: lens 1..10, idx = ceil(p*10/100) -> 3/5/8/10
    // p2: lens [2,2,2,7], idx -> 1/2/3/4 -> values 2/2/2/7 (duplicate
    // lengths collapse in the histogram; the cumulative count carries)
    assert(got == Set(
      ("p1", 25L, 3L, 10L), ("p1", 50L, 5L, 10L),
      ("p1", 75L, 8L, 10L), ("p1", 95L, 10L, 10L),
      ("p2", 25L, 2L, 4L), ("p2", 50L, 2L, 4L),
      ("p2", 75L, 2L, 4L), ("p2", 95L, 7L, 4L)))
  }
  // ------------------------------------ X99 content-defined chunking

  /** Plain-Scala reference chunker: the same boundary rule computed
    * independently of the native CdcChunks expression (spec pins the
    * expression against this, the driver pins it against DuckDB).
    */
  private def refChunks(text: String, k: Int, divisor: Long): Seq[(Long, Long, Long)] = {
    import org.apache.spark.unsafe.types.UTF8String
    def h(s: String): Long = ArrayExprs.hash60(UTF8String.fromString(s))
    val ts = text.split("\\s+", -1).toIndexedSeq
    val n = ts.length
    if (n == 0) return Seq.empty
    val cutStarts = (1 to n - k + 1).filter { p =>
      h(ts.slice(p - 1, p - 1 + k).mkString(" ")) % divisor == 0L && p + k <= n
    }.map(_ + k)
    val starts = 1 +: cutStarts
    starts.zipAll(starts.drop(1).map(_ - 1), 0, n).map { case (s, e) =>
      (s.toLong, (e - s + 1).toLong, h(ts.slice(s - 1, e).mkString(" ")))
    }
  }

  test("content chunks match the plain reference, incl. edge docs") {
    val texts = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "one"),                         // shorter than k: one chunk
      (2L, "two words"),
      (3L, (1 to 40).map(i => s"w${i % 7}t$i").mkString(" ")),
      (4L, (1 to 40).map(i => s"w${i % 3}").mkString(" "))) // heavy repeats
    val d = texts.toDF("doc_id", "text")
    for (div <- Seq(2L, 4L)) {
      val got = Dedup.contentChunks(d, "doc_id", "text", k = 3, divisor = div)
        .as[(Long, Long, Long, Long)].collect().toSeq
        .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(c => (c._2, c._3, c._4))).toMap
      val want = texts.map { case (id, t) => id -> refChunks(t, 3, div) }.toMap
      assert(got == want, s"divisor $div")
    }
    // a cut exists at one of the divisors (the test is vacuous if not)
    assert(Seq(2L, 4L).exists(div =>
      texts.exists { case (_, t) => refChunks(t, 3, div).length > 1 }))
  }

  test("content chunks re-synchronize after a head insertion") {
    val base = (1 to 60).map(i => s"tok${i * 13 % 101}n$i").mkString(" ")
    val shifted = "freshly inserted preamble words here " + base
    val d = Seq((0L, base), (1L, shifted)).toDF("doc_id", "text")
    val ch = Dedup.contentChunks(d, "doc_id", "text", k = 3, divisor = 4L)
      .as[(Long, Long, Long, Long)].collect().toSeq
    val baseCh = ch.filter(_._1 == 0L).sortBy(_._2)
    val shiftFps = ch.filter(_._1 == 1L).map(_._4).toSet
    assert(baseCh.length > 2, "need cuts for the property to bite")
    // every base chunk AFTER the first re-appears verbatim in the
    // shifted doc (boundaries are content-local, so they re-sync at
    // the first shared cut; only the head chunk differs)
    baseCh.drop(1).foreach { c => assert(shiftFps.contains(c._4)) }
  }

  test("chunk dup fraction: exact copies 1e6, unrelated 0") {
    val d = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again today"),
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "completely different words about spark engines and nothing else"))
      .toDF("doc_id", "text")
    val out = Dedup.chunkDupFraction(d, "doc_id", "text",
        k = 2, divisor = 2L, minDupTokens = 1)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(out(0) == (0L, 13L, 13L, 1000000L))
    assert(out(1) == (1L, 13L, 13L, 1000000L))
    assert(out(2)._3 == 0L && out(2)._4 == 0L)
  }
  // ------------------------------------------ X101 key-skew profile

  test("key profile ranks heavy keys; nulls profile as the sentinel") {
    val d = Seq(Some(1L), Some(1L), Some(1L), Some(2L), Some(2L),
      None, None, None, None, Some(3L)).toDF("k")
    val out = Diagnostics.keyProfile(d, "k", topN = 3)
      .as[(Long, String, Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(out == Seq(
      (1L, "<null>", 4L, 400000L, 10L, 4L),
      (2L, "1", 3L, 300000L, 10L, 4L),
      (3L, "2", 2L, 200000L, 10L, 4L)))
  }

  test("key profile ties break on the STRING key order (both engines agree)") {
    val d = Seq(10L, 9L).toDF("k")
    val out = Diagnostics.keyProfile(d, "k", topN = 2)
      .select("rank", "key").as[(Long, String)].collect().toSeq.sortBy(_._1)
    assert(out == Seq((1L, "10"), (2L, "9"))) // '10' < '9' lexically
  }
  // --------------------------------------- X105 corpus snapshot diff

  test("snapshot diff classifies added/removed/identical/equivalent/changed") {
    val v1 = Seq(
      (1L, "the quick brown fox"),
      (2L, "hello world"),
      (3L, "Spark engines, at scale!"),
      (4L, "will be removed"),
      (5L, "actual content v one")).toDF("doc_id", "text")
    val v2 = Seq(
      (1L, "the quick brown fox"),          // identical
      (2L, "  Hello,   WORLD  "),            // equivalent (case/punct/ws)
      (3L, "Spark engines at scale"),        // equivalent (punct dropped)
      (5L, "entirely different now"),        // changed
      (6L, "fresh arrival")).toDF("doc_id", "text") // added; 4 removed
    val out = Curation.snapshotDiff(v1, v2, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "identical", 2L -> "equivalent",
      3L -> "equivalent", 4L -> "removed", 5L -> "changed", 6L -> "added"))
  }
  // --------------------------------------- X106 cluster-aware split

  test("cluster split: near-dup clusters land whole; zero leakage over the pair graph") {
    // docs 0/1/2 are one near-dup cluster; 3 and 4 are singletons
    val d = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "the quick brown fox jumps over the lazy cat"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "completely different words about spark engines here"),
      (4L, "another unrelated document entirely on its own"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashPairs(d, "doc_id", "text",
      k = 3, numHashes = 32, bands = 8, rows = 4, threshold = 0.2)
    val out = Curation.clusterSplit(d, "doc_id", pairs,
        trainPct = 80, valPct = 10)
      .as[(Long, Long, String)].collect().toSeq
    val byId = out.map(r => r._1 -> r).toMap
    // cluster members share rep AND split; singletons rep themselves
    assert(byId(0L)._2 == 0L && byId(1L)._2 == 0L && byId(2L)._2 == 0L)
    assert(Set(byId(0L)._3, byId(1L)._3, byId(2L)._3).size == 1)
    assert(byId(3L)._2 == 3L && byId(4L)._2 == 4L)
    // zero cross-split pairs over the pair graph that built the split
    val splits = out.map(r => r._1 -> r._3).toMap
    val crossSplit = pairs.select("id1", "id2").as[(Long, Long)].collect()
      .count { case (a, b) => splits(a) != splits(b) }
    assert(crossSplit == 0)
  }
  // ------------------------------------ X107 token-budget water-fill

  test("token budget water-fills: small source caps, surplus redistributes exactly") {
    // alpha 0 -> equal weights (333333 ppm each). Budget 150 over
    // avail (10, 100, 100) at a 2-epoch cap: A caps at 20, the
    // remaining 130 splits 65/65 -- hand-computed closed form.
    def mk(n: Int, tag: String) = (1 to n).map(i => s"$tag$i").mkString(" ")
    val d = Seq(
      (1L, mk(10, "a"), "A"),
      (2L, mk(50, "b"), "B"), (3L, mk(50, "c"), "B"),
      (4L, mk(100, "d"), "C")).toDF("doc_id", "text", "source")
    val out = Curation.tokenBudgetPlan(d, "doc_id", "text", "source",
        alpha = 0.0, budget = 150L, maxEpochsPct = 200)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(out == Set(
      ("A", 10L, 333333L, 20L, 20L, 2000000L, 1L),
      ("B", 100L, 333333L, 200L, 65L, 650000L, 0L),
      ("C", 100L, 333333L, 200L, 65L, 650000L, 0L)))
    assert(out.toSeq.map(_._5).sum == 150L) // budget exhausted exactly here
  }
  // --------------------------------------- X109 perplexity buckets

  test("ccnet buckets: per-source integer terciles follow the ce order; unscored surfaces") {
    // reference slice = source r; scored docs split head/middle/tail
    // WITHIN each source by rank; the single-token doc has no bigrams
    val d = Seq(
      (1L, "the quick brown fox jumps over the dog", "r", "s0"),
      (2L, "the quick brown fox jumps over the dog", "x", "s0"),
      (3L, "quick brown the over fox dog jumps the", "x", "s0"),
      (4L, "zzz yyy xxx www vvv uuu ttt sss", "x", "s0"),
      (5L, "the quick brown fox", "x", "s1"),
      (6L, "fox brown quick the", "x", "s1"),
      (7L, "solo", "x", "s1")) // 1 token -> no bigrams -> unscored
      .toDF("doc_id", "text", "lang", "source")
    val out = Curation.ccnetBuckets(d, "doc_id", "text", "source",
        refPred = col("lang") === "r", nBuckets = 64)
      .as[(Long, String, Option[Long], String)].collect()
      .map(r => r._1 -> r).toMap
    assert(out.size == 7)
    assert(out(7L)._4 == "unscored" && out(7L)._3.isEmpty)
    // s0 has 4 scored docs: 3*rank<=4 -> head={1}, <=8 -> middle={2},
    // tail={3,4} by rank; verify the bucket boundaries follow the
    // ce ordering the op itself reports
    val s0 = (1L to 4L).map(i => out(i)).sortBy(r => (r._3.get, r._1))
    assert(s0.map(_._4) == Seq("head", "middle", "tail", "tail"))
    // s1: 2 scored docs -> 3*1<=2 false -> middle? 3*1 <= 4 -> middle={rank1}, tail={rank2}
    val s1 = Seq(out(5L), out(6L)).sortBy(r => (r._3.get, r._1))
    assert(s1.map(_._4) == Seq("middle", "tail"))
  }
  // ----------------------------------- X112 filter operating curve

  test("filter curve matches an independent reference on the op's own scores") {
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today", "en"),
      (2L, "zz zz zz zz zz zz", "xx"),
      (3L, "a perfectly ordinary sentence with useful words inside", "en"),
      (4L, "spam spam spam spam spam spam spam", "xx"),
      (5L, "short but fine text", "en"),
      (6L, "another reasonable document with some content here", "xx"),
      (7L, null.asInstanceOf[String], "en")) // NULL text: excluded
      .toDF("doc_id", "text", "lang")
    val pcts = Seq(25, 50, 75)
    val got = Curation.filterCurve(d, "doc_id", "text",
        labelPred = col("lang") === "en", pcts = pcts)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap

    // independent reference from the scored rows
    val scored = d.filter($"text".isNotNull)
      .select(graft.ops.TextAnalysis.qualityMicros($"text").as("q"),
        ($"lang" === "en").cast("long").as("pos"))
      .as[(Long, Long)].collect().sortBy(-_._1)
    val n = scored.length
    val npos = scored.map(_._2).sum
    for (p <- pcts) {
      val idx = (p * n + 99) / 100
      // smallest threshold whose keep-count reaches idx: walk down
      val t = scored.map(_._1).distinct.sortBy(-(_: Long))
        .find(t0 => scored.count(_._1 >= t0) >= idx).get
      val keep = scored.filter(_._1 >= t)
      val want = (p.toLong, t, keep.length.toLong, keep.map(_._2).sum,
        keep.map(_._2).sum * 1000000L / keep.length,
        keep.map(_._2).sum * 1000000L / npos)
      assert(got(p.toLong) == want, s"pct $p")
    }
  }

  test("runCollapse trims token runs to maxRun, order preserved") {
    def collapse(text: String, maxRun: Int): String =
      Seq(text).toDF("text")
        .select(array_join(TextAnalysis.runCollapse(
          TextAnalysis.tokens(col("text")), maxRun), " "))
        .as[String].head()
    assert(collapse("a a a b b c a", 2) == "a a b b c a")
    assert(collapse("a a a b b c a", 1) == "a b c a")
    // runs at the very start and very end; a maxRun-long run survives
    assert(collapse("x x x x y z z z", 2) == "x x y z z")
    assert(collapse("solo", 1) == "solo")
    assert(collapse("", 1) == "") // split("") = [""] — kept, rejoined
    // the final fp matches a plain-Scala reference on mixed runs
    val ref = "p p q q q p r r r r p"
      .split(" ").foldLeft(Vector.empty[String]) { (acc, t) =>
        if (acc.length >= 2 && acc.takeRight(2).forall(_ == t)) acc
        else acc :+ t
      }.mkString(" ")
    assert(collapse("p p q q q p r r r r p", 2) == ref)
  }

  test("log-histogram bins: inverse law and <= 1/8 relative width") {
    val rows = spark.range(0, 5000)
      .select(Diagnostics.binId(col("id")).as("bin"), col("id"))
      .select(col("id"), col("bin"),
        Diagnostics.binLo(col("bin")).as("lo"),
        Diagnostics.binHi(col("bin")).as("hi"))
      .as[(Long, Long, Long, Long)].collect()
    rows.foreach { case (n, _, lo, hi) =>
      assert(lo <= n && n <= hi, s"n=$n not in [$lo,$hi]")
      if (n >= 16) assert((hi + 1 - lo) * 8 <= lo, s"bin too wide at n=$n")
      else assert(lo == n && hi == n, s"exact region broken at n=$n")
    }
    // bins tile the domain: each hi is the next bin's lo - 1
    val bounds = rows.map(r => (r._2, r._3, r._4)).distinct.sortBy(_._1)
    bounds.sliding(2).foreach { case Array((_, _, h), (_, l2, _)) =>
      assert(l2 == h + 1, s"gap between bins at $h/$l2")
    }
  }

  test("signed bins: inverse law holds and ids stay monotone across zero") {
    val rows = spark.range(-3000, 3000)
      .select(col("id"), Diagnostics.signedBinId(col("id")).as("bin"))
      .select(col("id"), col("bin"),
        Diagnostics.signedLo(col("bin")).as("lo"),
        Diagnostics.signedHi(col("bin")).as("hi"))
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    rows.foreach { case (v, _, lo, hi) =>
      assert(lo <= v && v <= hi, s"v=$v not in [$lo,$hi]")
    }
    rows.sliding(2).foreach { case Array((_, b1, _, _), (_, b2, _, _)) =>
      assert(b1 <= b2, "bin ids must be monotone in v")
    }
  }

  test("value sketch brackets the true nearest-rank micro value, signed") {
    val vals = Map(
      "kA" -> Seq(-250.5, -3.0, 0.0, 0.01, 4.25, 77.7, 1000.0),
      "kB" -> Seq(-10.0, -10.0, -9.5))
    val d = vals.toSeq.flatMap { case (k2, vs) => vs.map(v => (v, k2)) }
      .toDF("value", "key")
    val pcts = Seq(50, 95, 99)
    val got = Diagnostics.valueQuantileSketch(d, "value", "key", pcts)
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap
    for ((k2, vs) <- vals; p <- pcts) {
      val micros = vs.map(v => math.round(v * 1e6)).sorted
      val exact = micros((p * vs.length + 99) / 100 - 1)
      val (n, lo, hi) = got((k2, p.toLong))
      assert(n == vs.length)
      assert(lo <= exact && exact <= hi, s"$k2 p$p: $exact not in [$lo,$hi]")
    }
  }

  test("quantile sketch brackets the true nearest-rank value per source") {
    val lens = Map(
      "sA" -> Seq(1, 2, 3, 4, 5, 17, 40, 100, 999, 3000),
      "sB" -> Seq(7, 7, 7, 8), // all < 16 -> sketch is EXACT
      "sC" -> Seq(250))
    val d = lens.toSeq.flatMap { case (s, ns) =>
      ns.map(n => (Seq.fill(n)("w").mkString(" "), s))
    }.toDF("text", "source")
    val pcts = Seq(50, 90, 99)
    val got = Diagnostics.lengthQuantileSketch(d, "text", "source", pcts)
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap
    for ((s, ns) <- lens; p <- pcts) {
      val sorted = ns.sorted
      val exact = sorted((p * ns.length + 99) / 100 - 1).toLong
      val (n, lo, hi) = got((s, p.toLong))
      assert(n == ns.length)
      assert(lo <= exact && exact <= hi, s"$s p$p: $exact not in [$lo,$hi]")
      if (sorted.last < 16) assert(lo == exact && hi == exact)
    }
  }

  test("htmlToText: blocks die whole, tags die, entities decode ONCE") {
    def x(h: String): String =
      Seq(h).toDF("h").select(TextAnalysis.htmlToText(col("h")))
        .as[String].head()
    assert(x("<p>hello <b>world</b></p>") == "hello world")
    // script/style CONTENT is removed, not just the tags — and code
    // containing '<' must not derail the tag stripper afterwards
    assert(x("<script>if (1 < 2) alert('x')</script>keep") == "keep")
    assert(x("<style>p { color: red }</style>kept") == "kept")
    // the five entities; &amp; decodes LAST and exactly once
    assert(x("a &lt;tag&gt; &quot;q&quot; &#39;s&#39; &amp; b")
      == "a <tag> \"q\" 's' & b")
    assert(x("&amp;lt;") == "&lt;", "double-decode is the classic bug")
    // a script block must NOT close at an embedded </style> (RE2 has
    // no backreferences — the alternation form had exactly this leak)
    assert(x("<script>var s = \"</style>\"; steal()</script>Hello")
      == "Hello", "script code leaked past an embedded </style>")
    assert(x("<style>p:after{content:\"</script>\"}</style>ok") == "ok")
    // whitespace collapses across removed structure
    assert(x("<div>\n  a\n  <br/>\n  b\n</div>") == "a b")
  }

  test("url canonicalization: the RFC 3986 hazards, one by one") {
    def c(u: String): String =
      Seq(u).toDF("u").select(Urls.canonicalize(col("u")))
        .as[String].head()
    // scheme/host case-fold; PATH case preserved
    assert(c("HTTP://Example.COM/A/b") == "http://example.com/A/b")
    // default ports strip only for their scheme
    assert(c("http://h:80/x") == "http://h/x")
    assert(c("https://h:443/x") == "https://h/x")
    assert(c("http://h:8080/x") == "http://h:8080/x")
    assert(c("https://h:80/x") == "https://h:80/x")
    // fragment dies; empty path becomes /; trailing slash strips
    assert(c("http://h#frag") == "http://h/")
    assert(c("http://h/a/") == "http://h/a")
    assert(c("http://h/") == "http://h/")
    // params sort bytewise; empties drop; ?-only disappears
    assert(c("http://h/p?b=2&a=1") == "http://h/p?a=1&b=2")
    assert(c("http://h/p?") == "http://h/p")
    assert(c("http://h/p?a=1&&b=2") == "http://h/p?a=1&b=2")
    // userinfo is case-SENSITIVE per RFC 3986 — only the host folds
    assert(c("http://TokenA@Example.COM/x") == "http://TokenA@example.com/x")
    assert(c("http://TokenA@h/x") != c("http://tokena@h/x"))
    // non-hierarchical URIs pass through UNCHANGED (dns:/relative
    // records exist in real Common Crawl WARCs — guessing a host
    // there would fold case on text that isn't one)
    assert(c("dns:Example.com") == "dns:Example.com")
    assert(c("Example.com/Path") == "Example.com/Path")
    // the fixture's two variants collapse
    assert(c(IoFormats.messyUri(3, 64)) == c(IoFormats.messyUri(35, 64)))
  }

  test("warc: plain and per-member-gzip files parse to identical records") {
    val dir = java.nio.file.Files.createTempDirectory("warc_fix").toString
    IoFormats.stageWarcFixture(dir, n = 9)
    val rows = IoFormats.readWarc(spark, dir)
      .as[IoFormats.WarcRow].collect()
    assert(rows.length == 18)
    val byKind = rows.groupBy(_.file.endsWith(".gz"))
    for ((_, g) <- byKind; r <- g.sortBy(_.rec_idx)) {
      assert(r.warc_type == "response")
      assert(r.uri == IoFormats.warcUri(r.rec_idx))
      val want = IoFormats.warcPayload(r.rec_idx)
      assert(new String(r.payload, "UTF-8") == want)
      assert(r.content_length == want.getBytes("UTF-8").length)
    }
    // the gz leg equals the plain leg record-for-record
    val plain = byKind(false).sortBy(_.rec_idx).map(r => new String(r.payload))
    val gz = byKind(true).sortBy(_.rec_idx).map(r => new String(r.payload))
    assert(plain.toSeq == gz.toSeq)
  }

  test("wet export: conversion records round-trip losslessly per shard") {
    val dir = java.nio.file.Files.createTempDirectory("wet_out").toString
    val docs = Seq(
      (0L, "alpha beta"), (1L, "gamma <not-a-tag"), (2L, "d & e"),
      (3L, "x"), (4L, "y z"), (5L, "w"), (6L, "p q r"), (7L, "s"))
      .toDF("doc_id", "text")
    val proof = IoFormats.wetExport(docs, "doc_id", "text", nShards = 4, dir)
      .collect()
    // every doc accounted for, every record typed `conversion`
    assert(proof.map(_.getAs[Long]("n_docs")).sum == 8)
    proof.foreach(r => assert(
      r.getAs[Long]("n_conversion") == r.getAs[Long]("n_docs")))
    // the written layout is the CC convention: .warc.wet.gz files,
    // and the standard reader parses them as conversion records whose
    // payload IS the X122 extraction of the wrapped doc
    val files = new java.io.File(dir).listFiles().filter(_.isFile)
    assert(files.nonEmpty && files.forall(_.getName.endsWith(".warc.wet.gz")))
    val back = IoFormats.readWarc(spark, dir).as[IoFormats.WarcRow].collect()
    assert(back.length == 8 && back.forall(_.warc_type == "conversion"))
    val byId = back.map(r =>
      r.uri.split("/doc/").last.toLong -> new String(r.payload, "UTF-8")).toMap
    val expected = docs.select(col("doc_id"),
      graft.ops.TextAnalysis.htmlToText(concat(
        lit(graft.ops.TextAnalysis.HtmlWrapPrefix), col("text"),
        lit(graft.ops.TextAnalysis.HtmlWrapSuffix))))
      .as[(Long, String)].collect().toMap
    assert(byId == expected)
    // the extraction hop really ran (entities decoded, tags gone)
    assert(byId(2L).contains("d & e") && !byId(1L).contains("<html"))
  }

  test("warc: framing relies on Content-Length, not delimiters — binary-safe") {
    // a payload containing the record terminator AND a fake header
    // start must parse intact (real web content contains anything)
    val evil = "first\r\n\r\nWARC/1.0\r\nsecond".getBytes("UTF-8")
    val rec = ("WARC/1.0\r\nWARC-Type: resource\r\n" +
      "WARC-Target-URI: http://e/x\r\n" +
      s"Content-Length: ${evil.length}\r\n\r\n").getBytes("ISO-8859-1") ++
      evil ++ "\r\n\r\n".getBytes("ISO-8859-1") ++
      ("WARC/1.0\r\nWARC-Type: resource\r\n" +
        "WARC-Target-URI: http://e/y\r\nContent-Length: 2\r\n\r\n")
        .getBytes("ISO-8859-1") ++
      "ok".getBytes("UTF-8") ++ "\r\n\r\n".getBytes("ISO-8859-1")
    val dir = java.nio.file.Files.createTempDirectory("warc_evil")
    java.nio.file.Files.write(dir.resolve("evil.warc"), rec)
    val rows = IoFormats.readWarc(spark, dir.toString)
      .as[IoFormats.WarcRow].collect().sortBy(_.rec_idx)
    assert(rows.length == 2)
    assert(new String(rows(0).payload, "UTF-8") ==
      "first\r\n\r\nWARC/1.0\r\nsecond")
    assert(rows(1).uri == "http://e/y" &&
      new String(rows(1).payload, "UTF-8") == "ok")
  }

  test("warc: a Content-Length beyond int range fails loud, never wraps") {
    val rec = ("WARC/1.0\r\nWARC-Type: resource\r\n" +
      "WARC-Target-URI: http://e/z\r\n" +
      "Content-Length: 4294967296\r\n\r\n").getBytes("ISO-8859-1") ++
      "tiny".getBytes("UTF-8")
    val dir = java.nio.file.Files.createTempDirectory("warc_bad")
    java.nio.file.Files.write(dir.resolve("bad.warc"), rec)
    val e = intercept[org.apache.spark.SparkException] {
      IoFormats.readWarc(spark, dir.toString).collect()
    }
    // the long wraps to int 0 — the validation must catch it on the
    // LONG, not misparse the rest of the file as records
    assert(e.getMessage.contains("bad Content-Length") ||
      Option(e.getCause).exists(_.getMessage.contains("bad Content-Length")))
  }

  test("length drift: a length-shifted source scores above conforming twins") {
    def mk(n: Int, s: String) = (Seq.fill(n)("w").mkString(" "), s)
    // s0 and s1 share the corpus length profile; s2's mass sits three
    // octaves away — the binned JS must separate them
    val d = (Seq(5, 10, 20).flatMap(n => Seq(mk(n, "s0"), mk(n, "s1"))) ++
      Seq(500, 800, 1000).map(n => mk(n, "s2"))).toDF("text", "source")
    val binned = d.select(col("source"),
      Diagnostics.binId(TextAnalysis.tokenCount(col("text")))
        .cast("string").as("lenbin"))
    val js = Drift.tokenJsDrift(binned, "lenbin", "source", maxVocab = 256)
      .select(col("source"), col("js_micros"))
      .as[(String, Long)].collect().toMap
    assert(js("s0") == js("s1"), "identical profiles must score identically")
    assert(js("s2") > js("s0") * 2, s"shifted source not separated: $js")
  }

  test("bloom: no false negatives ever; false positives exist but are rare") {
    val mBits = 1 << 12
    val probes = 4
    val members = (0L until 200L).map(i => i * 7919L + 13L)
    val bmWords = Bloom.build(members.toDF("h"), "h", mBits, probes)
    val nonMembers = (0L until 2000L).map(i => i * 104729L + 5L)
      .filterNot(members.contains)
    val probed = (members ++ nonMembers).toDF("h")
      .crossJoin(Bloom.frame(members.toDF("h"), bmWords))
      .select(col("h"),
        Bloom.mightContain(col("bloom_bm"), col("h"), mBits, probes)
          .as("hit"))
      .as[(Long, Boolean)].collect().toMap
    // the law: membership NEVER misses (build and probe share the
    // position expression)
    members.foreach(m => assert(probed(m), s"false negative at $m"))
    // fp sanity at this load (200·4 bits in 4096): well under 50%
    val fps = nonMembers.count(probed(_))
    assert(fps < nonMembers.size / 2, s"$fps false positives")
  }

  test("bloom contamination == plain contamination (prune-only law)") {
    val d = docs // 0/2 exact dups across the eval boundary
    val plain = Curation.contamination(d, "doc_id", "text",
        col("doc_id") % 2 === 0, k = 3)
      .as[(Long, Long, Long)].collect().toSet
    val bloomed = Curation.contaminationBloom(d, "doc_id", "text",
        col("doc_id") % 2 === 0, k = 3, mBits = 1 << 10, probes = 4)
      .as[(Long, Long, Long)].collect().toSet
    assert(plain == bloomed)
    assert(plain.nonEmpty, "fixture must overlap to test anything")
  }

  test("semantic leakage == reference aggregation over cosinePairs x splitOf") {
    // two identical vectors in one block, a third orthogonal, plus a
    // second block with its own identical pair — ids chosen 0..7
    val e1 = Array(1.0f, 0.0f, 0.0f)
    val e2 = Array(0.0f, 1.0f, 0.0f)
    val embs = Seq(
      (0L, e1, "b0"), (1L, e1, "b0"), (2L, e2, "b0"),
      (4L, e2, "b1"), (5L, e2, "b1"), (6L, e1, "b1"))
      .toDF("vec_id", "embedding", "label")
    val got = Curation.semanticLeakage(embs, "vec_id", "embedding",
        "label", threshold = 0.5, trainPct = 50, valPct = 25)
      .as[(String, String, Long, Long)].collect().toSet
    // reference: same-block pairs at cos >= 0.5 are exactly the
    // identical ones; aggregate over the op's own split assignment
    val splits = embs.select(col("vec_id"),
        Curation.splitOf(col("vec_id"), 50, 25).as("sp"))
      .as[(Long, String)].collect().toMap
    val pairs = Seq((0L, 1L), (4L, 5L)) // cos_micros = 1e6 pairs
    val want = pairs.map { case (a, b) => (splits(a), splits(b)) }
      .filter { case (x, y) => x != y }
      .groupBy { case (x, y) =>
        (Seq(x, y).min, Seq(x, y).max) }
      .map { case ((x, y), g) => (x, y, g.size.toLong, 1000000L) }.toSet
    assert(got == want)
    assert(want.nonEmpty, "fixture must straddle the split to test anything")
  }

  test("pmi collocations == plain reference; minCount suppresses hapax pairs") {
    val corpus = Seq(
      (0L, "new york is far from san francisco"),
      (1L, "new york has a new mayor"),
      (2L, "san francisco is far from new york"),
      (3L, "the mayor of new york visited san francisco"))
      .toDF("doc_id", "text")
    def lnm(x: Long): Long = math.round(math.log(x.toDouble) * 1e6)
    // plain reference over the same tokenization
    val toks = corpus.as[(Long, String)].collect()
      .map(_._2.split("\\s+").toSeq)
    val uni = toks.flatten.groupBy(identity).map { case (t, g) => t -> g.size.toLong }
    val bgs = toks.filter(_.size >= 2)
      .flatMap(ts => ts.sliding(2).map(p => (p(0), p(1))))
    val bc = bgs.groupBy(identity).map { case (p, g) => p -> g.size.toLong }
    val nU = uni.values.sum
    val nB = bgs.size.toLong
    val minCount = 2
    val want = bc.filter(_._2 >= minCount).map { case ((a, b), cab) =>
      (s"$a $b", cab,
        lnm(cab) + 2 * lnm(nU) - lnm(nB) - lnm(uni(a)) - lnm(uni(b)))
    }.toSeq.sortBy(r => (-r._3, r._1)).take(10)
    val got = TextAnalysis.pmiCollocations(corpus, "text", minCount, 10)
      .as[(String, Long, Long)].collect().toSeq
    assert(got == want)
    // "san francisco" (always adjacent, parts never apart) must beat
    // "new york" (whose parts also occur separately)
    val rank = got.map(_._1).zipWithIndex.toMap
    assert(rank("san francisco") < rank("new york"))
    // hapax pairs are gone entirely
    assert(got.forall(_._2 >= minCount))
  }

  test("vocab coverage: hand-computed curve, saturation visible in n_types") {
    val corpus = Seq((0L, "a a a b b c")).toDF("doc_id", "text")
    val got = TextAnalysis.vocabCoverage(corpus, "text", Seq(1, 2, 3, 10))
      .orderBy("vocab_size")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 1L, 500000L),   // top-1 type "a" covers 3/6
      (2L, 2L, 833333L),   // +"b" covers 5/6
      (3L, 3L, 1000000L),
      (10L, 3L, 1000000L))) // saturated: only 3 types exist
  }

  test("zipf fit == plain least-squares over quantized ln moments") {
    // counts a=4, b=2, c=1 -> ranks 1, 2, 3
    val corpus = Seq((0L, "a a a a b b c")).toDF("doc_id", "text")
    val pts = Seq((1L, 4L), (2L, 2L), (3L, 1L)).map { case (r, c) =>
      (math.round(math.log(r.toDouble) * 1e3),
        math.round(math.log(c.toDouble) * 1e3))
    }
    val n = pts.size.toLong
    val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
    val sxy = pts.map(p => p._1 * p._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    val slopeRaw = (n * sxy - sx * sy).toDouble / (n * sxx - sx * sx).toDouble
    val want = (n, math.round(slopeRaw * 1e6),
      math.round((sy.toDouble - slopeRaw * sx.toDouble) / n * 1e3))
    val got = TextAnalysis.zipfFit(corpus, "text", topR = 256)
      .as[(Long, Long, Long)].head()
    assert(got == want)
    assert(got._2 < 0, "zipfian corpus must fit a negative slope")
  }

  test("cms: overestimate law on every key; collision-free width is exact") {
    // tiny corpus, probe ALL tokens (topN covers the vocab)
    val corpus = Seq((0L, "a a a b b c the the the the the")).toDF("doc_id", "text")
    val out = Diagnostics.cmsEstimates(corpus, "text", depth = 4,
        width = 1024, topN = 100)
      .as[(String, Long, Long)].collect()
    assert(out.map(_._1).toSet == Set("a", "b", "c", "the"))
    // est >= true structurally; at width 1024 over 4 keys collisions
    // are (deterministically) absent, so est == true
    assert(out.forall(r => r._3 >= r._2))
    assert(out.forall(r => r._3 == r._2), s"unexpected collision: ${out.toSeq}")
    // a deliberately tiny width forces collisions: est strictly above
    // true for at least one key, never below
    val tight = Diagnostics.cmsEstimates(corpus, "text", depth = 1,
        width = 2, topN = 100)
      .as[(String, Long, Long)].collect()
    assert(tight.forall(r => r._3 >= r._2))
    assert(tight.exists(r => r._3 > r._2),
      "width 2 over 4 keys must collide somewhere")
    // merge law: the sketch of a concatenated corpus equals the
    // cell-wise SUM of the halves' sketches — the shard/stream
    // roll-up contract
    val a = Seq((0L, "a a b the")).toDF("doc_id", "text")
    val b = Seq((1L, "b c the the")).toDF("doc_id", "text")
    val both = a.unionByName(b)
    def cellMap(df: org.apache.spark.sql.DataFrame) =
      Diagnostics.cmsCells(df, "text", depth = 3, width = 8)
        .as[(Long, Long, Long)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
    val summed = (cellMap(a).toSeq ++ cellMap(b).toSeq)
      .groupBy(_._1).map { case (k, g) => k -> g.map(_._2).sum }
    assert(cellMap(both) == summed)
  }

  test("curation pipeline composite: each stage's cut visible in the survivors") {
    val base = "The quick brown fox jumps over the lazy dog near the river bank"
    val corpus = Seq(
      (0L, s"$base today", "s0"),        // keeper, cluster rep
      (1L, s"$base today!!", "s0"),      // exact dup of 0 by normalized key
      (2L, s"$base tonight", "s1"),      // near dup of 0 -> cluster loser
      (3L, "the the the the", "s1"),     // fails the quality gate
      (4L, "Contact me at john@example.com about the project timeline scope and budget", "s2"))
      .toDF("doc_id", "text", "source")
    val got = Curation.curationPipeline(corpus, "doc_id", "text",
        "source", minQualityMicros = 550000, k = 3, numHashes = 32,
        bands = 8, rows = 4, threshold = 0.5)
      .as[(Long, String, String)].collect().sortBy(_._1)
    assert(got.map(_._1).toSeq == Seq(0L, 4L),
      s"survivors were ${got.map(_._1).toSeq}")
    // the fingerprint is of the REDACTED text: recompute it from the
    // hand-redacted string through the fingerprint alone
    val wantFp = Seq(
      ("Contact me at <EMAIL> about the project timeline scope and budget", 1))
      .toDF("t", "x")
      .select(TextAnalysis.md5Fingerprint(col("t"))).as[String].head()
    assert(got.find(_._1 == 4L).get._3 == wantFp)
  }

  test("curation audit (X148): every doc exactly one verdict; kept == pipeline survivors") {
    val base = "The quick brown fox jumps over the lazy dog near the river bank"
    val corpus = Seq(
      (0L, s"$base today", "s0"),        // kept (exact keeper + cluster rep)
      (1L, s"$base today!!", "s0"),      // exact dup of 0
      (2L, s"$base tonight", "s1"),      // near dup of 0
      (3L, "the the the the", "s1"),     // quality-gated
      (4L, "Contact me at john@example.com about the project timeline scope and budget", "s2"),
      (5L, "", "s2"))                    // empty
      .toDF("doc_id", "text", "source")
    val audit = Curation.curationAudit(corpus, "doc_id", "text",
        "source", minQualityMicros = 550000, k = 3, numHashes = 32,
        bands = 8, rows = 4, threshold = 0.5)
      .as[(Long, String, Option[Long])].collect().sortBy(_._1)
    // partition law: every input doc exactly once
    assert(audit.map(_._1).toSeq == Seq(0L, 1L, 2L, 3L, 4L, 5L))
    val byId = audit.map(a => a._1 -> ((a._2, a._3))).toMap
    assert(byId(0L) == (("kept", Some(0L))))
    assert(byId(1L) == (("exact_dup", Some(0L))))
    assert(byId(2L) == (("near_dup", Some(0L))))
    assert(byId(3L) == (("quality", None)))
    assert(byId(4L) == (("kept", Some(4L))))
    assert(byId(5L) == (("empty", None)))
    // the audit's kept set equals the pipeline's survivors
    val kept = audit.filter(_._2 == "kept").map(_._1).toSet
    val surv = Curation.curationPipeline(corpus, "doc_id", "text",
        "source", minQualityMicros = 550000, k = 3, numHashes = 32,
        bands = 8, rows = 4, threshold = 0.5)
      .as[(Long, String, String)].collect().map(_._1).toSet
    assert(kept == surv)
  }

  test("sq4: nibble codes span exactly [0, 15]; exact rerank recovers brute force") {
    // the encode at maxCode 15: range ends map to code 0 and 15
    val enc = Seq((Seq(0.0, 1.0, 0.5), Seq(0.0, 0.0, 0.0),
        Seq(1000000.0, 1000000.0, 1000000.0)))
      .toDF("v", "los", "his")
      .select(ArrayExprs.sqEncode(col("v"), col("los"), col("his"),
        clamp = false, maxCode = 15.0))
      .as[Seq[Double]].head()
    assert(enc == Seq(0.0, 15.0, 7.0))
    // corpus-covering rerank: the exact-rerank contract holds at any
    // level count — SQ4 output == brute force
    val embs = (0L until 6L)
      .map(i => (i, Array.tabulate(4)(d => ((i + d) % 5).toFloat - 2f)))
      .toDF("vec_id", "embedding")
    val r = Sq.recall(embs, "vec_id", "embedding", col("vec_id") < 2,
        k = 3, rerank = 10, dim = 4, levels = 16)
      .as[(Long, Long)].collect().toMap
    assert(r == Map(0L -> 1000000L, 1L -> 1000000L))
  }

  test("script profile: dominant script per doc, fixed-order first-max tie-break") {
    def s(cps: Int*): String = cps.toArray.flatMap(Character.toChars).mkString
    val cyr = s(0x0436, 0x0438) // 2 Cyrillic letters
    val cjk = s(0x4E2D, 0x6587) // 2 CJK ideographs
    val corpus = Seq(
      (0L, "hello world"),      // latin 10 of 11 chars
      (1L, s"$cyr $cyr $cyr"),  // cyrillic 6 of 8
      (2L, cjk + cjk),          // cjk 4 of 4 -> share exactly 1e6
      (3L, "ab" + cyr),         // latin 2 == cyrillic 2 -> tie -> latin
      (4L, "12345"))            // digit
      .toDF("doc_id", "text")
    val got = TextAnalysis.scriptProfile(corpus, "doc_id", "text")
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == Map(
      "latin" -> ((2L, math.round((909091.0 + 500000.0) / 2))),
      "cyrillic" -> ((1L, 750000L)),
      "cjk" -> ((1L, 1000000L)),
      "digit" -> ((1L, 1000000L))))
    // the streaming gate is the same narrow map: keep latin docs
    // above a dominant-share floor (doc 3's tie-win at 50% is cut)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    in.addData(Seq((0L, "hello world"), (1L, s"$cyr $cyr $cyr"),
      (3L, "ab" + cyr)))
    val q = streaming.Pipeline.scriptGate(
        in.toDF().toDF("doc_id", "text"), Seq("latin"),
        minShareMicros = 600000L)
      .writeStream.format("memory").queryName("script_gate").start()
    try {
      q.processAllAvailable()
      val kept = spark.table("script_gate").select("doc_id").as[Long]
        .collect().toSet
      assert(kept == Set(0L))
    } finally q.stop()
  }

  test("oov: frozen vocab counts occurrences; gate stream == batch") {
    val freeze = Seq(
      (0L, "a a a b b c d"))   // top-2 vocab: a, b
      .toDF("doc_id", "text")
    val frozen = TextAnalysis.freezeVocab(freeze, "text", s = 2)
    assert(frozen.vocab == Seq("a", "b"))
    val arrivals = Seq(
      (10L, "a b c"),   // 1 of 3 OOV
      (11L, "c d"),     // all OOV
      (12L, "a a"))     // none OOV
      .toDF("doc_id", "text")
    val got = TextAnalysis.oovScore(arrivals, "doc_id", "text", frozen)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got == Map(
      10L -> ((3L, 1L, 333333L)),
      11L -> ((2L, 2L, 1000000L)),
      12L -> ((2L, 0L, 0L))))
    // the streaming gate is the same narrow map
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    in.addData(Seq((10L, "a b c"), (11L, "c d"), (12L, "a a")))
    val q = streaming.Pipeline.oovGate(
        in.toDF().toDF("doc_id", "text"), frozen, maxOovMicros = 400000L)
      .writeStream.format("memory").queryName("oov_gate").start()
    try {
      q.processAllAvailable()
      val kept = spark.table("oov_gate").select("doc_id").as[Long]
        .collect().toSet
      assert(kept == Set(10L, 12L))
    } finally q.stop()
  }

  test("minhash lsh recall: found is a subset of truth; exact dups always recalled") {
    val out = Dedup.minhashLshRecall(docs, "doc_id", "text",
        k = 3, numHashes = 32, bands = 8, rows = 4, threshold = 0.2)
      .as[(Long, Long, Long, Long)].collect().toSeq
    // truth on this fixture is 3 pairs (proven by the ngram test):
    // (0,2) identical at 1e6 -> bucket 10; (0,1), (1,2) share a bucket
    assert(out.map(_._2).sum == 3L)
    assert(out.forall(r => r._3 <= r._2), "found must be a subset of truth")
    val b10 = out.find(_._1 == 10L).get
    assert(b10._3 == b10._2 && b10._4 == 1000000L,
      "identical docs have identical signatures -> always recalled")
  }
}
