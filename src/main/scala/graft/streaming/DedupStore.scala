package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Persistent, CROSS-HORIZON streaming exact dedup — the store the
  * watermarked operator cannot be: `dropDuplicatesWithinWatermark`
  * ([[Pipeline.curated]]) bounds its state by the watermark horizon,
  * so a duplicate arriving days after the original sails through. At
  * corpus scale the dedup set IS unbounded-by-time (a crawl re-fetches
  * the same page months apart); what bounds it is hashing — 16-byte
  * fingerprints, hash-bucketed on disk.
  *
  * This operator keeps the seen-fingerprint set in the
  * [[StateTable]] layout (bucketed copy-on-write parquet + atomic
  * manifest commit, optional grace GC) and per micro-batch:
  *
  *  1. fingerprints the batch and keeps the FIRST occurrence per
  *     fingerprint within it (by the id column — deterministic);
  *  2. reads ONLY the buckets the batch's fingerprints hash into and
  *     anti-joins: docs whose fingerprint the store has ever seen are
  *     dropped;
  *  3. appends the survivors to `outDir`, then commits the touched
  *     buckets' updated fingerprint sets through the manifest
  *     protocol.
  *
  * Work per trigger ∝ batch size + touched-bucket size, never ∝
  * corpus history: exactly the [[StateTable.applyBatchBucketed]]
  * argument, with the LWW merge swapped for set-union.
  *
  * == Failure contract ==
  *
  * Survivors are written BEFORE the manifest commit, so a crash
  * between them replays the batch with the OLD store and re-emits the
  * same survivors — duplicate OUTPUT rows (at-least-once, the
  * [[IndexStream]] sink contract; readers dedup on doc id or consume
  * idempotently), never duplicate STATE: the union-distinct commit is
  * idempotent, and a doc can only be dropped if its fingerprint was
  * committed, which happens strictly after its original was emitted.
  */
object DedupStore {

  /** Drop batch rows whose fingerprint is already in the store (or
    * duplicated earlier in the same batch), emit survivors to
    * `outDir`, commit the new fingerprints. Public for batch-mode
    * reuse and tests; [[maintain]] is the streaming driver.
    */
  def applyBatch(batch: DataFrame, idCol: String, textCol: String,
      tableDir: String, outDir: String, batchId: Long,
      nBucketsIfNew: Int, graceCommits: Int = 0): Unit = {
    val spark = batch.sparkSession
    Files.createDirectories(Paths.get(tableDir))
    val st = StateTable.manifestOf(tableDir)
    val nBuckets = st.nBuckets.getOrElse(nBucketsIfNew)
    val bucket = pmod(hash(col("fp")), lit(nBuckets))

    val w = Window.partitionBy(col("fp")).orderBy(col(idCol))
    val firsts = batch
      .withColumn("fp", graft.ops.TextAnalysis.md5Fingerprint(col(textCol)))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
      .withColumn("b", bucket.cast("int"))
      .persist()
    try {
      val touched = firsts.select(col("b")).distinct()
        .collect().map(_.getInt(0)).toSeq.sorted
      if (touched.isEmpty) return
      // committed bucket files hold only `fp` (the bucket id is the
      // directory, stripped by the partitioned write) — recompute `b`
      // when carrying them into the next version
      val existingPaths = touched.flatMap(b =>
        st.buckets.get(b).map(v => s"$tableDir/b$b/$v"))
      val existing =
        if (existingPaths.nonEmpty) spark.read.parquet(existingPaths: _*)
        else firsts.select(col("fp")).limit(0)

      val survivors = firsts.join(existing, Seq("fp"), "left_anti")
        .persist()
      try {
        // emit BEFORE the state commit (see failure contract)
        survivors.drop("fp", "b").write.mode("append").parquet(outDir)
        val version = s"v${batchId}_${java.util.UUID.randomUUID().toString.take(8)}"
        StateTable.commitPartitioned(tableDir,
          existing.withColumn("b", bucket.cast("int"))
            .unionByName(survivors.select(col("fp"), col("b"))).distinct(),
          nBuckets, st, version, graceCommits)
      } finally survivors.unpersist()
    } finally firsts.unpersist()
  }

  /** Run the maintenance query: `docs` (streaming; needs `idCol` and
    * `textCol`) → survivors appended to `outDir`, fingerprint store at
    * `tableDir`. Single writer (the checkpoint serializes batches).
    */
  def maintain(docs: DataFrame, idCol: String, textCol: String,
      tableDir: String, outDir: String, checkpointDir: String,
      nBuckets: Int = StateTable.DefaultBuckets,
      graceCommits: Int = 0): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, idCol, textCol, tableDir, outDir, batchId,
          nBuckets, graceCommits)
      }
      .start()

  /** Takedown for the dedup store — the [[graft.ops.Index.delete]]
    * analog for exact-dedup STATE: remove the given docs'
    * fingerprints so their CONTENT can re-enter the corpus later (a
    * right-to-be-forgotten delete that leaves the fingerprint behind
    * would silently drop any future legitimate re-submission of the
    * same text). Cost ∝ touched buckets; committed through the same
    * manifest protocol (atomic, grace-able), with buckets the forget
    * EMPTIES leaving the manifest outright.
    */
  def forget(texts: DataFrame, textCol: String, tableDir: String,
      graceCommits: Int = 0): Unit =
    StateTable.retractKeys(
      texts.select(
        graft.ops.TextAnalysis.md5Fingerprint(col(textCol)).as("fp")),
      "fp", tableDir, graceCommits)

  /** The committed fingerprint set (all buckets) — audit/repair view. */
  def fingerprints(spark: SparkSession, tableDir: String): DataFrame =
    StateTable.read(spark, tableDir).select(col("fp"))
}
