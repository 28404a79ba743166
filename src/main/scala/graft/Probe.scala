package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Curation, Dedup, Diagnostics, GraphStore, Index, TextIndex}
import graft.streaming.{ChunkDupStore, CmsStore, DedupStore, SampleStore, StateTable}

/** Scale and skew probes: `runMain graft.Probe <subcommand> [args...]`.
  * Every subcommand runs on [[SessionConf.session]] (32 cores unless
  * `SPARK_GRAFT_CPUS` says otherwise, a throwaway warehouse) and prints
  * its own lines.
  *
  *  - `scale [sfDir] [fineSeeds]`: the graph/ANN family's in-list work
  *    is Σ|list|², so cluster count is its scale knob. Builds the same
  *    graph with the 10 label seeds and with √n-ish seeds (the IVF
  *    rule nlist ∝ √n, SURVEY §2.10 X7) and times both.
  *  - `vocab [sfDir] [copies]`: the posting joins cost Σdf², and the
  *    synthetic corpus has a fixed vocabulary, so df grows with the
  *    corpus. Times the heaviest posting joins on the fixed corpus and
  *    on its Heaps-law twin ([[ScaleGen.vocabGrown]]), where tail
  *    words stay copy-local.
  *  - `skew`: derives a hot-key corpus from `SPARK_GRAFT_SF_DIR`
  *    ([[skewedDocs]]), prints the posting stream's hot keys
  *    ([[Diagnostics.keyProfile]]) and 3 reps each of the unsalted,
  *    salted and prefix n-gram joins.
  *  - `stores [sfDir] [nTriggers]`: "work per trigger ∝ batch +
  *    touched buckets, never ∝ history" for the fingerprint, sample and
  *    sketch stores: each trigger `applyBatch`es a `doc_id % n` slice
  *    into persistent state tables; flat times under growing history
  *    are the claim.
  *  - `artifacts [sfDir] [nTriggers]`: the same for the text index, the
  *    ANN index and the graph. Each trigger upserts a new slice
  *    (`grow_s`) and then a constant churn batch of re-embeds and
  *    tombstones (`churn_s`) against the ever-larger artifact.
  */
object Probe {

  private val Commands: ListMap[String, (SparkSession, Seq[String]) => Unit] =
    ListMap("scale" -> scale _, "vocab" -> vocab _, "skew" -> skew _,
      "stores" -> stores _, "artifacts" -> artifacts _)

  /** The subcommand `args` names, or why there is none. */
  def command(args: Seq[String])
      : Either[String, (SparkSession, Seq[String]) => Unit] =
    args.headOption.flatMap(Commands.get).toRight(
      s"usage: graft.Probe <${Commands.keys.mkString("|")}> [args...]" +
        args.headOption.fold("")(c => s" (unknown subcommand '$c')"))

  def main(args: Array[String]): Unit = command(args.toSeq) match {
    case Left(usage) => System.err.println(usage); sys.exit(2)
    case Right(run) =>
      val spark = SessionConf.session(32, "spark.sql.warehouse.dir" ->
        java.nio.file.Files.createTempDirectory("probe_wh").toString)
      try run(spark, args.toSeq.tail) finally spark.stop()
  }

  private def reset(spark: SparkSession): Unit = {
    spark.catalog.clearCache(); System.gc()
  }

  private def seconds(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  private def scale(spark: SparkSession, args: Seq[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("testdata-sf1.0")
    val fine = args.lift(1).map(_.toInt).getOrElse(141) // ~sqrt(20k)
    val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")
    def timed(label: String)(f: => Unit): Double = {
      reset(spark)
      val s = seconds(f)
      println(f"[scaleprobe] $label: $s%.1f s"); s
    }
    val tCoarse = timed(s"build nlist=10 (label seeds)") {
      GraphStore.build(spark, embs, "vec_id", "embedding",
        "label", "graft_probe_c", k = 5, iters = 2, massign = 2,
        nBuckets = 8)
    }
    val tFine = timed(s"build nlist=$fine (sqrt-n seeds)") {
      GraphStore.build(spark,
        embs.withColumn("seed", pmod(col("vec_id"), lit(fine))),
        "vec_id", "embedding", "seed", "graft_probe_f", k = 5, iters = 2,
        massign = 2, nBuckets = 8)
    }
    println(f"""{"metric":"scaleprobe","sf":"$sfDir","nlist10_sec":$tCoarse%.1f,"nlist${fine}_sec":$tFine%.1f,"speedup":${tCoarse / tFine}%.1f}""")
  }

  private def vocab(spark: SparkSession, args: Seq[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("testdata-sf1.0")
    val copies = args.lift(1).map(_.toInt).getOrElse(10)
    val fixed = spark.read.parquet(s"$sfDir/documents.parquet")
    val total = fixed.count()
    require(copies > 0 && total % copies == 0 && total / copies > 0,
      s"copies=$copies does not divide the corpus ($total docs) — the " +
        "replica-index derivation (doc_id div nDoc) would mis-bucket " +
        "copies and silently break the type-level rewrite invariant")
    val grownPath = s"$sfDir/documents_vocabgrow.parquet"
    ScaleGen.vocabGrown(fixed, total / copies)
      .coalesce(4).write.mode("overwrite").parquet(grownPath)
    val grown = spark.read.parquet(grownPath)
    // two rounds, report the SECOND: in a single fixed-then-grown pass
    // the fixed side would pay the session's JIT warm-up
    def timed(label: String)(f: => Long): Double =
      (1 to 2).map { round =>
        reset(spark)
        var n = 0L
        val s = seconds { n = f }
        println(f"[vocabprobe] $label (round $round): $s%.1f s ($n rows)")
        s
      }.last
    val oFixed = timed("overlap, fixed vocab") {
      Curation.sourceOverlap(fixed, "doc_id", "text",
        "source", k = 3, threshold = 0.2).count()
    }
    val oGrown = timed("overlap, growing vocab") {
      Curation.sourceOverlap(grown, "doc_id", "text",
        "source", k = 3, threshold = 0.2).count()
    }
    val nFixed = timed("ngram prefix pairs, fixed vocab") {
      Dedup.ngramJaccardPairsPrefix(fixed, "doc_id", "text",
        k = 3, threshold = 0.8).count()
    }
    val nGrown = timed("ngram prefix pairs, growing vocab") {
      Dedup.ngramJaccardPairsPrefix(grown, "doc_id", "text",
        k = 3, threshold = 0.8).count()
    }
    // the LSH recall harness's truth pass is the same Σdf² posting join
    val rFixed = timed("minhash lsh recall, fixed vocab") {
      Dedup.minhashLshRecall(fixed, "doc_id", "text",
        k = 3, numHashes = 32, bands = 8, rows = 4, threshold = 0.2).count()
    }
    val rGrown = timed("minhash lsh recall, growing vocab") {
      Dedup.minhashLshRecall(grown, "doc_id", "text",
        k = 3, numHashes = 32, bands = 8, rows = 4, threshold = 0.2).count()
    }
    println(f"""{"metric":"vocabprobe","sf":"$sfDir","overlap_fixed_sec":$oFixed%.1f,"overlap_grown_sec":$oGrown%.1f,"ngram_fixed_sec":$nFixed%.1f,"ngram_grown_sec":$nGrown%.1f,"lshrecall_fixed_sec":$rFixed%.1f,"lshrecall_grown_sec":$rGrown%.1f}""")
  }

  /** Short on purpose: 5 words → 3 hot shingles. A long boilerplate
    * paragraph spawns ~26 equally-hot keys, which 32 reducers already
    * balance by accident; the straggler regime — the one salting
    * exists for — is FEWER hot keys than reducers, each carrying df²
    * pair work while the other reducers idle.
    */
  private val Boiler = "please review this confidential legal notice"

  /** The derived hot-key corpus: boilerplate appended to 20% of docs,
    * the shared-legal-header shape that makes n-gram posting joins
    * straggle in real corpora.
    */
  def skewedDocs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      when(col("doc_id") % 5 === 0,
        concat_ws(" ", col("text"), lit(Boiler)))
        .otherwise(col("text")).as("text"))

  private def skew(spark: SparkSession, args: Seq[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val docs = skewedDocs(cdc.Io.table(spark, dir, "documents")).persist()
    val nDocs = docs.count()
    val posts = docs.select(col("doc_id"),
      explode(Dedup.hashedShingles(col("text"), 3)).as("h"))
    val top = Diagnostics.keyProfile(posts, "h", topN = 3)
      .collect().map(r =>
        s"""{"rank":${r.getLong(0)},"cnt":${r.getLong(2)},"share_micros":${
          r.getLong(3)},"n_keys":${r.getLong(5)}}""")
    println(s"""{"metric":"skew_profile","ndocs":$nDocs,"top":[${
      top.mkString(",")}]}""")
    def time(name: String)(mk: => DataFrame): Unit =
      for (rep <- 1 to 3) {
        reset(spark)
        docs.count() // keep the shared input resident
        var rows = -1L
        val s = seconds { rows = mk.count() }
        println(f"""{"metric":"skew_bench","path":"$name","rep":$rep,"sec":$s%.2f,"pairs":$rows}""")
      }
    time("unsalted")(Dedup.ngramJaccardPairs(
      docs, "doc_id", "text", k = 3, threshold = 0.2))
    time("salted")(Dedup.ngramJaccardPairsSalted(
      docs, "doc_id", "text", k = 3, threshold = 0.2,
      hotFraction = 0.1, salts = 8))
    time("prefix")(Dedup.ngramJaccardPairsPrefix(
      docs, "doc_id", "text", k = 3, threshold = 0.2))
  }

  private def stores(spark: SparkSession, args: Seq[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("testdata-sf1.0")
    val nTriggers = args.lift(1).map(_.toInt).getOrElse(10)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val tmp = java.nio.file.Files.createTempDirectory("streamprobe")
    def dir(n: String) = tmp.resolve(n).toString
    println("[streamprobe] trigger batch_rows dedup_s chunk_s sample_s " +
      "cms_s dedup_fps chunk_fps sample_rows cms_cells")
    (0 until nTriggers).foreach { i =>
      reset(spark)
      val batch = docs.filter(pmod(col("doc_id"), lit(nTriggers)) === i)
      val rows = batch.count()
      val tDedup = seconds {
        DedupStore.applyBatch(batch, "doc_id", "text",
          dir("dedup_tbl"), dir("dedup_out"), i, nBucketsIfNew = 64)
      }
      val tChunk = seconds {
        ChunkDupStore.applyBatch(batch, "doc_id", "text",
          dir("chunk_tbl"), dir("chunk_out"), i, k = 4, divisor = 8L,
          minDupTokens = 4, maxDupFracMicros = 500000L,
          nBucketsIfNew = 64)
      }
      val tSample = seconds {
        SampleStore.applyBatch(batch, "doc_id", "source",
          dir("sample_tbl"), i, n = 100, nBucketsIfNew = 64)
      }
      val tCms = seconds {
        CmsStore.applyBatch(batch, "text", dir("cms_tbl"),
          runId = "probe", batchId = i, depth = 4, width = 1024,
          nBucketsIfNew = 8)
      }
      // history sizes AFTER the trigger (what the NEXT trigger reads)
      def size(d: String) = StateTable.read(spark, d).count()
      println(f"[streamprobe] ${i + 1}%7d $rows%10d $tDedup%7.2f " +
        f"$tChunk%7.2f $tSample%8.2f $tCms%6.2f ${size(dir("dedup_tbl"))}%9d " +
        f"${size(dir("chunk_tbl"))}%9d ${size(dir("sample_tbl"))}%11d " +
        f"${size(dir("cms_tbl"))}%9d")
    }
  }

  private def artifacts(spark: SparkSession, args: Seq[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("testdata-sf1.0")
    val nTriggers = args.lift(1).map(_.toInt).getOrElse(10)
    val nS = nTriggers + 1
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"), col("label"))
    def slice(df: DataFrame, id: String, i: Int) =
      df.filter(pmod(col(id), lit(nS)) === i)
    val tmp = java.nio.file.Files.createTempDirectory("artprobe").toString

    // slice 0 is the base build; triggers 1..n ingest their slices
    TextIndex.build(spark, slice(docs, "doc_id", 0),
      "doc_id", "text", "probe_tidx", nBuckets = 16,
      baseDir = Some(s"$tmp/t"))
    Index.build(spark, slice(embs, "vec_id", 0),
      "vec_id", "embedding", "label", "probe_idx",
      itersIvf = 2, massign = 2, m = 16, ksub = 32, itersPq = 1,
      nBuckets = 16, baseDir = Some(s"$tmp/i"))
    GraphStore.build(spark, slice(embs, "vec_id", 0),
      "vec_id", "embedding", "label", "probe_g", k = 5, iters = 1,
      massign = 2, nBuckets = 16, baseDir = Some(s"$tmp/g"))

    // the constant churn delta: slice-0 re-embeds and tombstones
    // (disjoint; later triggers' removals are no-ops in content but
    // pay the same bucket-rewrite machinery, which is the point)
    val reDocs = slice(docs, "doc_id", 0).filter(col("doc_id") % 7 === 0)
      .withColumn("text", concat(col("text"), lit(" revised entry")))
    val tombDocs = slice(docs, "doc_id", 0)
      .filter(col("doc_id") % 13 === 3 && col("doc_id") % 7 =!= 0)
      .select(col("doc_id"))
    val reEmbs = slice(embs, "vec_id", 0).filter(col("vec_id") % 7 === 0)
    val tombEmbs = slice(embs, "vec_id", 0)
      .filter(col("vec_id") % 13 === 3 && col("vec_id") % 7 =!= 0)
      .select(col("vec_id"))

    println("[artprobe] trigger new_docs new_vecs " +
      "tidx_grow_s idx_grow_s g_grow_s " +
      "tidx_churn_s idx_churn_s g_churn_s tidx_docs idx_codes g_edges")
    (1 to nTriggers).foreach { i =>
      reset(spark)
      val newDocs = slice(docs, "doc_id", i)
      val newEmbs = slice(embs, "vec_id", i)
      val (nd, nv) = (newDocs.count(), newEmbs.count())
      val tG = seconds { TextIndex.upsert(spark, "probe_tidx", newDocs,
        "doc_id", "text") }
      val iG = seconds { Index.upsert(spark, "probe_idx", newEmbs,
        "vec_id", "embedding") }
      val gG = seconds { GraphStore.upsert(spark, "probe_g", newEmbs,
        "vec_id", "embedding", "label") }
      reset(spark)
      val tC = seconds { TextIndex.upsert(spark, "probe_tidx", reDocs,
        "doc_id", "text", delIds = Some(tombDocs), delCol = "doc_id") }
      val iC = seconds { Index.upsert(spark, "probe_idx", reEmbs,
        "vec_id", "embedding", delIds = Some(tombEmbs),
        delCol = "vec_id") }
      val gC = seconds { GraphStore.upsert(spark, "probe_g", reEmbs,
        "vec_id", "embedding", "label", delIds = Some(tombEmbs),
        delCol = "vec_id") }
      val (td, ic, ge) = (spark.table("probe_tidx_dl").count(),
        spark.table("probe_idx_codes").count(),
        spark.table("probe_g_edges").count())
      println(f"[artprobe] ${i}%7d $nd%8d $nv%8d " +
        f"$tG%11.2f $iG%10.2f $gG%8.2f " +
        f"$tC%12.2f $iC%11.2f $gC%9.2f $td%9d $ic%9d $ge%7d")
    }
  }
}
