package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming stratified sampling with an EXACT per-stratum quota
  * (X102): the live twin of [[graft.ops.Curation.stratifiedSample]]
  * (X60). The batch rule — keep each source's n docs with the lowest
  * salted id-hash, ties by id — is a BOTTOM-K SKETCH, and bottom-k is
  * closed under merge: bottomN(bottomN(A) ∪ B) == bottomN(A ∪ B).
  * So the store keeps exactly the current bottom-n candidate set per
  * source and merging each micro-batch into it reproduces the batch
  * operator on the UNION of everything ever ingested — not an
  * approximation of it (spec-pinned equality, any batch split, any
  * arrival order). Classic reservoir sampling cannot make that claim
  * (it is RNG- and order-dependent); the salted-hash rank is what
  * buys order-independence AND replay-safety at once.
  *
  * State: (source, id, h) rows — the per-source bottom-n candidates —
  * in the [[StateTable]] bucketed copy-on-write layout, bucketed by
  * source hash. Per micro-batch: hash the batch rows, read ONLY the
  * touched buckets, union-distinct with the stored candidates, keep
  * each source's bottom-n by (h, id), commit. Work ∝ batch +
  * touched-bucket size (≤ n per stored source); replay is a pure
  * no-op on content (union-distinct of already-present rows).
  *
  * Serving recomputes ranks from the kept set ([[sample]]) — the
  * kept set IS the bottom-n, so its internal (h, id) order equals
  * the union corpus's rank order.
  *
  * `forget` retracts sampled ids (takedown), with the inherent
  * bottom-k trade: an evicted candidate cannot be resurrected, so a
  * forgotten slot stays short until new ingest refills it (or a
  * batch rebuild over the surviving corpus re-levels it).
  *
  * The rank salt is pluggable (default = X60's `strat_`), so bottom-k
  * twins of OTHER stratifications ride the same store — e.g. the
  * X127 cluster-balanced sample streams through this store with the
  * stratum = the frozen-centroid cluster and the `clsample_` salt;
  * the per-cluster quota is exact over everything ingested, and
  * equality with `Similarity.clusterSample` is pinned on the freeze
  * corpus (the batch op retrains its centroids — post-freeze ingest
  * that shifts cluster structure is a model-refresh event).
  */
object SampleStore {

  private def hCol(idc: String, salt: String) =
    graft.ops.Hashing.hash60(concat(lit(salt), col(idc).cast("string")))

  /** The store's rank salt, pinned in a sidecar on first commit: a
    * bottom-k over h values from MIXED salts is the bottom-k of no
    * hash family at all, so opening an existing store under a
    * different salt must fail loudly, not merge silently.
    */
  private def pinSalt(tableDir: String, salt: String): Unit = {
    val p = Paths.get(tableDir, "salt.txt")
    if (Files.exists(p)) {
      val stored = new String(Files.readAllBytes(p), "UTF-8").trim
      require(stored == salt,
        s"SampleStore at $tableDir was built with rank salt '$stored' " +
          s"but was opened with '$salt' — mixed-salt bottom-k state is " +
          "meaningless; use the original salt or a fresh tableDir")
    } else Files.write(p, salt.getBytes("UTF-8"))
  }

  /** Merge one batch into the sample state; public for batch-mode
    * reuse and tests — [[maintain]] is the streaming driver.
    */
  def applyBatch(batch: DataFrame, idCol: String, sourceCol: String,
      tableDir: String, batchId: Long, n: Int,
      nBucketsIfNew: Int, graceCommits: Int = 0,
      salt: String = "strat_"): Unit = {
    val spark = batch.sparkSession
    Files.createDirectories(Paths.get(tableDir))
    pinSalt(tableDir, salt)
    val st = StateTable.manifestOf(tableDir)
    val nBuckets = st.nBuckets.getOrElse(nBucketsIfNew)
    val bucket = pmod(hash(col("source")), lit(nBuckets))

    val cand = batch
      .select(col(sourceCol).as("source"), col(idCol).as("id"))
      .withColumn("h", hCol("id", salt))
      .withColumn("b", bucket.cast("int"))
      .persist()
    try {
      val touched = cand.select(col("b")).distinct()
        .collect().map(_.getInt(0)).toSeq.sorted
      if (touched.isEmpty) return
      val existingPaths = touched.flatMap(b =>
        st.buckets.get(b).map(v => s"$tableDir/b$b/$v"))
      val existing =
        if (existingPaths.nonEmpty) spark.read.parquet(existingPaths: _*)
        else cand.select(col("source"), col("id"), col("h")).limit(0)

      // bottom-n of (stored ∪ batch) per source; distinct makes a
      // replayed batch a content no-op. Stored rows of OTHER sources
      // sharing a touched bucket pass through unchanged (their set
      // gains nothing, so rank <= n keeps all of it).
      val w = Window.partitionBy(col("source")).orderBy(col("h"), col("id"))
      val kept = existing
        .unionByName(cand.select(col("source"), col("id"), col("h")))
        .distinct()
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= n).drop("rn")
        .withColumn("b", bucket.cast("int"))

      val version = s"v${batchId}_${java.util.UUID.randomUUID().toString.take(8)}"
      StateTable.commitPartitioned(tableDir, kept, nBuckets, st, version,
        graceCommits)
    } finally cand.unpersist()
  }

  /** Run the maintenance query — state only, nothing is emitted
    * downstream (the sample is SERVED from the store, [[sample]]).
    */
  def maintain(docs: DataFrame, idCol: String, sourceCol: String,
      tableDir: String, checkpointDir: String, n: Int,
      nBuckets: Int = StateTable.DefaultBuckets,
      graceCommits: Int = 0, salt: String = "strat_"): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, idCol, sourceCol, tableDir, batchId, n,
          nBuckets, graceCommits, salt)
      }
      .start()

  /** The current sample, in [[graft.ops.Curation.stratifiedSample]]'s
    * output shape (source, doc_id, rank) — ranks recomputed from the
    * kept set, whose (h, id) order equals the union corpus's.
    */
  def sample(spark: SparkSession, tableDir: String): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("h"), col("id"))
    StateTable.read(spark, tableDir)
      .withColumn("rank", row_number().over(w).cast("long"))
      .select(col("source"), col("id").as("doc_id"), col("rank"))
  }

  /** Takedown: retract sampled ids. Bottom-k cannot resurrect evicted
    * candidates — the slot refills from future ingest only. This is a
    * FULL-table rewrite, not `StateTable.retractKeys`: the store
    * buckets by SOURCE (the serve/merge key) while a takedown arrives
    * keyed by doc id, so the id's bucket can't be derived — and it
    * doesn't need to be, because the state is bounded by
    * n·|sources| rows by construction (the one store where
    * touched-bucket pruning buys nothing).
    */
  def forget(ids: DataFrame, idCol: String, tableDir: String,
      graceCommits: Int = 0): Unit = {
    val spark = ids.sparkSession
    val st = StateTable.manifestOf(tableDir)
    if (st.nBuckets.isEmpty) return // nothing committed: no-op
    val nBuckets = st.nBuckets.get
    val committed = st.buckets.keys.toSeq.sorted
    if (committed.isEmpty) return
    val existing = spark.read.parquet(
      committed.map(b => s"$tableDir/b$b/${st.buckets(b)}"): _*)
    val bucket = pmod(hash(col("source")), lit(nBuckets)).cast("int")
    val kept = existing
      .join(ids.select(col(idCol).as("id")).distinct(), Seq("id"), "left_anti")
      .withColumn("b", bucket).persist()
    try {
      val keptBuckets = kept.select(col("b")).distinct()
        .collect().map(_.getInt(0)).toSet
      StateTable.commitPartitioned(tableDir, kept, nBuckets, st,
        s"f_${java.util.UUID.randomUUID().toString.take(8)}",
        graceCommits, emptied = committed.filterNot(keptBuckets))
    } finally kept.unpersist()
  }
}
