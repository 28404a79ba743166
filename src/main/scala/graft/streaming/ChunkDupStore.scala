package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Cross-horizon SHIFT-ROBUST streaming dedup gate (X100): the
  * chunk-level companion of [[DedupStore]] (exact md5 of the whole
  * text) and [[NearDupStore]] (MinHash band keys). A re-crawl that
  * prepends a nav bar to a known page defeats both — the exact
  * fingerprint changes and, at high enough edit density, the band
  * keys can too — but its content-defined chunks
  * ([[graft.ops.Dedup.contentChunks]]) re-synchronize at the first
  * shared cut, so almost every chunk fingerprint matches the stored
  * original.
  *
  * State: the ≥ `minDupTokens`-token chunk fingerprints (8-byte
  * longs) of every EMITTED document, in the [[StateTable]] bucketed
  * copy-on-write layout. Per micro-batch:
  *
  *  1. chunk the batch in-row (zero shuffle, the X99 expression);
  *  2. read ONLY the buckets the batch's fingerprints hash into;
  *     a doc's duplicated tokens are those inside chunks whose
  *     fingerprint is in the store OR is claimed by a lower doc id
  *     in the same batch (first-wins, order-free — identical to the
  *     batch [[graft.ops.Dedup.chunkDupGate]], which a one-batch run
  *     from empty state must and does reproduce exactly);
  *  3. docs whose duplicated fraction stays under
  *     `maxDupFracMicros` are emitted to `outDir` WITH their gauge
  *     columns, then the SURVIVORS' fingerprints commit through the
  *     manifest protocol — the store is exactly the chunk set of the
  *     emitted corpus, an invariant the spec checks.
  *
  * Work per trigger ∝ batch chunks + touched-bucket size, never ∝
  * corpus history. NULL-text docs chunk to nothing and drop (the
  * X97 contract: normalize before fingerprinting).
  *
  * == Failure contract ==
  *
  * Survivors are written BEFORE the manifest commit ([[DedupStore]]'s
  * at-least-once contract): a crash between them replays the batch
  * against the OLD store and re-emits the same survivors — duplicate
  * OUTPUT rows, never duplicate or diverged STATE (the union-distinct
  * commit is idempotent). A POST-commit replay leaves the store
  * byte-identical (every candidate fingerprint is already present)
  * and gates out every prior survivor whose signal-chunk fraction
  * alone reaches the threshold — its own fingerprints now read as
  * seen. A survivor carrying enough sub-`minDupTokens` sliver mass
  * to stay under the threshold even fully-seen can re-emit: output
  * is at-least-once, state always converges (spec-pinned).
  */
object ChunkDupStore {

  /** Gate one batch; public for batch-mode reuse and tests —
    * [[maintain]] is the streaming driver.
    */
  def applyBatch(batch: DataFrame, idCol: String, textCol: String,
      tableDir: String, outDir: String, batchId: Long,
      k: Int, divisor: Long, minDupTokens: Int, maxDupFracMicros: Long,
      nBucketsIfNew: Int, graceCommits: Int = 0): Unit = {
    val spark = batch.sparkSession
    Files.createDirectories(Paths.get(tableDir))
    val st = StateTable.manifestOf(tableDir)
    val nBuckets = st.nBuckets.getOrElse(nBucketsIfNew)
    val bucket = pmod(hash(col("fp")), lit(nBuckets))

    val ch = graft.ops.Dedup.contentChunks(batch, idCol, textCol, k, divisor)
      .withColumn("b", bucket.cast("int"))
      .persist()
    try {
      if (ch.isEmpty) return
      // only >= minDupTokens chunks carry dup signal or enter the
      // store — short slivers between adjacent cuts are noise
      val signal = ch.filter(col("chunk_tokens") >= minDupTokens)
      val touched = signal.select(col("b")).distinct()
        .collect().map(_.getInt(0)).toSeq.sorted
      val existingPaths = touched.flatMap(b =>
        st.buckets.get(b).map(v => s"$tableDir/b$b/$v"))
      val existing =
        if (existingPaths.nonEmpty) spark.read.parquet(existingPaths: _*)
        else ch.select(col("fp")).limit(0)

      // first-wins claims: the store beats the batch; within the
      // batch the lowest doc id claims (min is order-free, so replay
      // and the batch twin agree)
      val claims = signal.groupBy(col("fp"))
        .agg(min(col("doc_id")).as("claim_id"))
      val gauge = ch
        .join(existing.withColumn("seen", lit(1)), Seq("fp"), "left")
        .join(claims, Seq("fp"), "left")
        .groupBy(col("doc_id"))
        .agg(sum(col("chunk_tokens")).as("total_tokens"),
          coalesce(sum(when(col("chunk_tokens") >= minDupTokens
              && (col("seen") === 1 || col("claim_id") < col("doc_id")),
            col("chunk_tokens"))), lit(0L)).as("dup_tokens"))
        .selectExpr("doc_id",
          "CAST(total_tokens AS BIGINT) AS total_tokens",
          "CAST(dup_tokens AS BIGINT) AS dup_tokens",
          "CAST((dup_tokens * 1000000) div total_tokens AS BIGINT) AS dup_frac_micros")
        .filter(col("dup_frac_micros") < maxDupFracMicros)
        .persist()
      try {
        // emit BEFORE the state commit (see failure contract):
        // survivors carry their payload plus the gauge columns
        batch.join(gauge.withColumnRenamed("doc_id", idCol), Seq(idCol))
          .write.mode("append").parquet(outDir)

        if (touched.nonEmpty) {
          val newFps = signal
            .join(gauge.select(col("doc_id")), Seq("doc_id"), "left_semi")
            .select(col("fp"), col("b")).distinct()
          val version = s"v${batchId}_${java.util.UUID.randomUUID().toString.take(8)}"
          StateTable.commitPartitioned(tableDir,
            existing.withColumn("b", bucket.cast("int"))
              .unionByName(newFps).distinct(),
            nBuckets, st, version, graceCommits)
        }
      } finally gauge.unpersist()
    } finally ch.unpersist()
  }

  /** Run the maintenance query: streaming `docs` → admitted docs (+
    * gauge columns) appended to `outDir`, chunk-fingerprint store at
    * `tableDir`. Single writer (the checkpoint serializes batches).
    */
  def maintain(docs: DataFrame, idCol: String, textCol: String,
      tableDir: String, outDir: String, checkpointDir: String,
      k: Int, divisor: Long, minDupTokens: Int, maxDupFracMicros: Long,
      nBuckets: Int = StateTable.DefaultBuckets,
      graceCommits: Int = 0): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, idCol, textCol, tableDir, outDir, batchId,
          k, divisor, minDupTokens, maxDupFracMicros, nBuckets,
          graceCommits)
      }
      .start()

  /** Takedown: retract the given texts' chunk fingerprints so their
    * CONTENT can re-enter the corpus ([[DedupStore.forget]]'s
    * chunk-level analog, with the same bare-key precision trade as
    * [[NearDupStore.forget]]: a chunk shared verbatim with an
    * unrelated surviving doc is retracted too, and re-claims on that
    * doc's next legitimate appearance).
    */
  def forget(texts: DataFrame, textCol: String, tableDir: String,
      k: Int, divisor: Long, minDupTokens: Int,
      graceCommits: Int = 0): Unit =
    StateTable.retractKeys(
      graft.ops.Dedup.contentChunks(
          texts.withColumn("__cid", lit(0L)), "__cid", textCol, k, divisor)
        .filter(col("chunk_tokens") >= minDupTokens)
        .select(col("fp")).distinct(),
      "fp", tableDir, graceCommits)

  /** The committed fingerprint set (all buckets) — audit/repair view. */
  def fingerprints(spark: SparkSession, tableDir: String): DataFrame =
    StateTable.read(spark, tableDir).select(col("fp"))
}
