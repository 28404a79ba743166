package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
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
  * EXACTLY the batch [[graft.ops.Index.search]] rows. Change streams
  * maintain the index through [[TrilogyStream.applyChanges]].
  */
object IndexStream {
  import TrilogyStream.streaming

  /** Start the probe stream. `queries` is a streaming DataFrame with
    * (`idCol`, `vecCol`); `corpus` the static indexed table (exact
    * rerank needs the full vectors); `indexName` a built
    * [[graft.ops.Index]].
    */
  def probe(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, indexName: String, k: Int, nprobe: Int,
      rerank: Int, outDir: String, checkpointDir: String): StreamingQuery =
    probeWith(queries, corpus, idCol, vecCol, outDir, checkpointDir)(
      Index.searchQueries(_, indexName, _, _, k, nprobe, rerank))

  /** [[probe]] against the SQ serving tier ([[graft.ops.Index
    * .searchSq]]): same stream-static shape, but arriving vectors
    * score probed candidates from 1-byte SQ codes instead of full
    * vectors or PQ ADC — the tier a probe stream picks when candidate
    * IO is the budget and codebooks were never trained.
    */
  def probeSq(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, indexName: String, k: Int, nprobe: Int,
      rerank: Int, outDir: String, checkpointDir: String): StreamingQuery =
    probeWith(queries, corpus, idCol, vecCol, outDir, checkpointDir)(
      Index.searchSqQueries(_, indexName, _, _, k, nprobe, rerank))

  /** [[probe]] against the BQ serving tier ([[graft.ops.Index
    * .searchBq]]): same stream-static shape, but arriving vectors cut
    * candidates by Hamming over the stored one-long sign codes (no
    * probe, an 8-byte full sweep) before the exact rerank — the tier
    * for latency-bound probes over memory-resident sign codes.
    */
  def probeBq(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, indexName: String, k: Int, rerank: Int,
      outDir: String, checkpointDir: String): StreamingQuery =
    probeWith(queries, corpus, idCol, vecCol, outDir, checkpointDir)(
      Index.searchBqQueries(_, indexName, _, _, k, rerank))

  /** Each trigger's (`qid`, `qv`, `qnrm`) query frame, searched by
    * `search(spark, base, queries)` and appended to `outDir`.
    */
  private def probeWith(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, outDir: String, checkpointDir: String)(
      search: (SparkSession, DataFrame, DataFrame) => DataFrame)
      : StreamingQuery =
    streaming(queries, checkpointDir) { (batch, _) =>
      val qb = batch.select(col(idCol).as("qid"),
          Vectors.toDouble(col(vecCol)).as("qv"))
        .withColumn("qnrm", Vectors.norm(col("qv")))
      search(batch.sparkSession, Index.baseOf(corpus, idCol, vecCol), qb)
        .write.mode("append").parquet(outDir)
    }

  /** Streaming index MAINTENANCE — the other half of the lifecycle:
    * each micro-batch of arriving embeddings is encoded at the stored
    * centroids/codebooks and committed to the bucketed postings/codes
    * as ONE atomic generation ([[graft.ops.Index.appendCommitted]] —
    * cost ∝ batch, committed files untouched, readers keep their
    * snapshot for `graceCommits` further batches). A crashed trigger
    * leaves NO trace in the served index (the generation commit is
    * all-or-nothing) and its replay re-encodes the same vectors —
    * SEARCH RESULTS are unaffected (candidate pairs are distinct and
    * the ADC dedups code rows; IndexStreamSpec proves a double-append
    * changes nothing), so the only replay cost is duplicate storage,
    * reclaimed by [[graft.ops.Index.compact]]'s rewrite cadence.
    * Retraining stays an offline policy, exactly like production IVF
    * systems.
    */
  def maintain(embs: DataFrame, idCol: String, vecCol: String,
      indexName: String, checkpointDir: String,
      graceCommits: Int = 0, manifestCommit: Boolean = false,
      autoCompactFiles: Option[Int] = None): StreamingQuery =
    streaming(embs, checkpointDir, autoCompactFiles,
        Index.maybeCompact(_, indexName, _)) { (batch, _) =>
      Index.appendCommitted(batch.sparkSession, indexName, batch,
        idCol, vecCol, graceCommits, manifestCommit)
    }

  /** Streaming TAKEDOWN feed — a stream of delete requests (rows of
    * `idCol`) applied through [[graft.ops.Index.delete]]'s atomic
    * generation commits. [[graft.ops.Index.delete]] is idempotent by
    * construction (an anti-join against already-removed ids is a
    * no-op), so an at-least-once replay cannot over-delete.
    * `graceCommits` stays 0 by default — the takedown retention bound.
    */
  def retract(delIds: DataFrame, idCol: String, indexName: String,
      checkpointDir: String, graceCommits: Int = 0,
      autoCompactFiles: Option[Int] = None): StreamingQuery =
    streaming(delIds, checkpointDir, autoCompactFiles,
        Index.maybeCompact(_, indexName, _)) { (batch, _) =>
      Index.delete(batch.sparkSession, indexName, batch, idCol,
        graceCommits)
    }
}
