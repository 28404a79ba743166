package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ops.{Index, Vectors}

/** Streaming ANN: probe each ARRIVING embedding against a prebuilt
  * persisted index ([[graft.ops.Index]]) — the similarity-search twin
  * of the streaming contamination gate (X49): new vectors are scored
  * on ingest, against an artifact that is never retrained in the hot
  * path.
  *
  * Shape: a stream-static join family. Per micro-batch the arriving
  * vectors become the query side; the centroid and codebook tables
  * broadcast; the bucketed postings/codes are scanned in place; only
  * the (batch-sized) probe/candidate rows ever shuffle. The ranking
  * stages are row_number windows — not expressible as a stateful
  * streaming operator (and correctly so: top-k over an unbounded probe
  * needs no cross-batch state at all) — so the batch search runs
  * inside `foreachBatch`, which is exactly Spark's intended hatch for
  * per-trigger batch semantics over static sides.
  *
  * Results append to `outDir` as parquet. foreachBatch is
  * at-least-once under retries: a crashed trigger can re-append its
  * batch; readers dedup on (qid, rank) or consume idempotently —
  * same contract as the reference's dry-run publisher, noted here
  * rather than hidden.
  *
  * IndexStreamSpec proves a MemoryStream of probe vectors produces
  * EXACTLY the batch [[graft.ops.Index.search]] rows.
  */
object IndexStream {

  /** Start the probe stream. `queries` is a streaming DataFrame with
    * (`idCol`, `vecCol`); `corpus` the static indexed table (exact
    * rerank needs the full vectors); `indexName` a built
    * [[graft.ops.Index]].
    */
  def probe(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, indexName: String, k: Int, nprobe: Int,
      rerank: Int, outDir: String, checkpointDir: String): StreamingQuery =
    queries.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          val base = Index.baseOf(corpus, idCol, vecCol)
          val qb = batch.select(col(idCol).as("qid"),
              Vectors.toDouble(col(vecCol)).as("qv"))
            .withColumn("qnrm", Vectors.norm(col("qv")))
          Index.searchQueries(spark, indexName, base, qb, k, nprobe, rerank)
            .write.mode("append").parquet(outDir)
        }
      }
      .start()

  /** [[probe]] against the SQ serving tier ([[graft.ops.Index
    * .searchSq]]): same stream-static shape, but arriving vectors
    * score probed candidates from 1-byte SQ codes instead of full
    * vectors or PQ ADC — the tier a probe stream picks when candidate
    * IO is the budget and codebooks were never trained.
    */
  def probeSq(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, indexName: String, k: Int, nprobe: Int,
      rerank: Int, outDir: String, checkpointDir: String): StreamingQuery =
    queries.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          val base = Index.baseOf(corpus, idCol, vecCol)
          val qb = batch.select(col(idCol).as("qid"),
              Vectors.toDouble(col(vecCol)).as("qv"))
            .withColumn("qnrm", Vectors.norm(col("qv")))
          Index.searchSqQueries(spark, indexName, base, qb, k, nprobe, rerank)
            .write.mode("append").parquet(outDir)
        }
      }
      .start()

  /** [[probe]] against the BQ serving tier ([[graft.ops.Index
    * .searchBq]]): same stream-static shape, but arriving vectors cut
    * candidates by Hamming over the stored one-long sign codes (no
    * probe, an 8-byte full sweep) before the exact rerank — the tier
    * for latency-bound probes over memory-resident sign codes.
    */
  def probeBq(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, indexName: String, k: Int, rerank: Int,
      outDir: String, checkpointDir: String): StreamingQuery =
    queries.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          val base = Index.baseOf(corpus, idCol, vecCol)
          val qb = batch.select(col(idCol).as("qid"),
              Vectors.toDouble(col(vecCol)).as("qv"))
            .withColumn("qnrm", Vectors.norm(col("qv")))
          Index.searchBqQueries(spark, indexName, base, qb, k, rerank)
            .write.mode("append").parquet(outDir)
        }
      }
      .start()

  /** Streaming index MAINTENANCE — the other half of the lifecycle:
    * each micro-batch of arriving embeddings is encoded at the stored
    * centroids/codebooks and committed to the bucketed postings/codes
    * as ONE atomic generation ([[graft.ops.Index.appendCommitted]] —
    * cost ∝ batch, committed files untouched, readers keep their
    * snapshot for `graceCommits` further batches). The stream's
    * checkpoint serializes batches, matching the index's single-writer
    * contract; a crashed trigger leaves NO trace in the served index
    * (the generation commit is all-or-nothing) and its replay
    * re-encodes the same vectors — SEARCH RESULTS are unaffected
    * (candidate pairs are distinct and the ADC dedups code rows;
    * IndexStreamSpec proves a double-append changes nothing), so the
    * only replay cost is duplicate storage, reclaimed by
    * [[graft.ops.Index.compact]]'s rewrite cadence. Retraining stays
    * an offline policy, exactly like production IVF systems.
    */
  def maintain(embs: DataFrame, idCol: String, vecCol: String,
      indexName: String, checkpointDir: String,
      graceCommits: Int = 0, manifestCommit: Boolean = false,
      autoCompactFiles: Option[Int] = None): StreamingQuery =
    embs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          Index.appendCommitted(batch.sparkSession, indexName, batch,
            idCol, vecCol, graceCommits, manifestCommit)
          // r14 verdict #7: a long-lived stream accretes one file set
          // (or manifest segment) per batch — the threshold check
          // keeps the artifact bounded without an operator cron
          autoCompactFiles.foreach(
            Index.maybeCompact(batch.sparkSession, indexName, _))
        }
      }
      .start()

  /** Streaming TAKEDOWN feed — a stream of delete requests (rows of
    * `idCol`) applied to the index per micro-batch through
    * [[graft.ops.Index.delete]]'s atomic generation commits. The
    * checkpoint serializes batches (single-writer, like [[maintain]]);
    * [[graft.ops.Index.delete]] is idempotent by construction (an
    * anti-join against already-removed ids is a no-op), so an
    * at-least-once replay cannot over-delete. `graceCommits` stays 0
    * by default — the takedown retention bound.
    */
  def retract(delIds: DataFrame, idCol: String, indexName: String,
      checkpointDir: String, graceCommits: Int = 0,
      autoCompactFiles: Option[Int] = None): StreamingQuery =
    delIds.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          Index.delete(batch.sparkSession, indexName, batch, idCol,
            graceCommits)
          autoCompactFiles.foreach(
            Index.maybeCompact(batch.sparkSession, indexName, _))
        }
      }
      .start()

  /** CDC feed (X158) — [[graft.streaming.TextIndexStream.applyChanges]]
    * on the VECTOR artifact: decoded change rows (`keyCol`, `opCol` ∈
    * [[graft.cdc.ChangeOp]], `vecCol` the row's current embedding,
    * `tsCol`, `seqCol`) maintain the index as upserts + tombstones.
    * Per micro-batch:
    *
    *  1. within-batch LWW — several changes to one key collapse to
    *     the batch's (ts, seq)-winner BEFORE touching the artifact;
    *  2. ONE [[graft.ops.Index.upsert]]: every winner key leaves the
    *     encoded parts (an upsert of an indexed id must replace its
    *     codes; an unknown key's removal is a no-op) and the
    *     non-tombstone winners' vectors are encoded at the FIXED
    *     trained params and ingested — removal rewrites and ingest
    *     deltas publish in one generation of all parts.
    *
    * Applying batches in log order IS last-writer-wins (the binlog
    * serializes a key's changes). Replay safety needs no marker
    * table: a replayed upsert removes exactly the rows it itself
    * added and re-encodes the same vectors at the same fixed params —
    * byte-equal state (IndexStreamSpec proves replay == single
    * application, and the stream == one batch upsert of the
    * LWW-collapsed winners).
    */
  def applyChanges(changes: DataFrame, keyCol: String, opCol: String,
      vecCol: String, indexName: String, checkpointDir: String,
      tsCol: String = "ts_sec", seqCol: String = "seq",
      graceCommits: Int = 0,
      autoCompactFiles: Option[Int] = None): StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val s = batch.sparkSession
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col(keyCol))
            .orderBy(col(tsCol).desc, col(seqCol).desc)
          val winners = batch.withColumn("__rn", row_number().over(w))
            .filter(col("__rn") === 1).drop("__rn").persist()
          try {
            Index.upsert(s, indexName,
              winners.filter(col(opCol) =!= graft.cdc.ChangeOp.Delete)
                .select(col(keyCol), col(vecCol)),
              keyCol, vecCol,
              delIds = Some(
                winners.filter(col(opCol) === graft.cdc.ChangeOp.Delete)
                  .select(col(keyCol))),
              delCol = keyCol, graceCommits = graceCommits)
            autoCompactFiles.foreach(Index.maybeCompact(s, indexName, _))
          } finally winners.unpersist()
        }
      }
      .start()
}
