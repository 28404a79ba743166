package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ops.GraphStore

/** Streaming kNN-graph MAINTENANCE — [[IndexStream.maintain]]'s twin
  * for the graph artifact: each micro-batch of arriving embeddings is
  * assigned at the stored centroids and merged into the persisted
  * edge list by [[graft.ops.GraphStore.append]] (only delta-involving
  * pairs scored; stored top-k merged on the unrounded ranking key —
  * cost ∝ batch, never ∝ corpus²). The stream's checkpoint serializes
  * batches, matching the artifact's single-writer contract, and
  * `append` is IDEMPOTENT (already-present ids drop in one bucketed
  * anti-join), so foreachBatch's at-least-once replay is a no-op
  * rather than a double merge — GraphStreamSpec proves micro-batched
  * maintenance equals one batch append AND that a replayed batch
  * changes nothing. Retraining cadence stays an offline policy,
  * exactly as with the ANN index.
  */
object GraphStream {

  /** Each micro-batch must carry an id at most once ([[GraphStore.append]]'s
    * precondition): a batch holding one id twice fails the query
    * before anything commits. Multi-version feeds go through
    * [[applyChanges]], which collapses them last-writer-wins first.
    */
  def maintain(embs: DataFrame, idCol: String, vecCol: String,
      seedCol: String, graphName: String, checkpointDir: String,
      autoCompactFiles: Option[Int] = None): StreamingQuery =
    embs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          GraphStore.append(batch.sparkSession, graphName, batch,
            idCol, vecCol, seedCol)
          autoCompactFiles.foreach(
            GraphStore.maybeCompact(batch.sparkSession, graphName, _))
        }
      }
      .start()

  /** Streaming TAKEDOWN feed — [[IndexStream.retract]]'s twin for the
    * graph artifact: delete-request micro-batches through
    * [[graft.ops.GraphStore.delete]] (deleted sources drop, survivors
    * that lost a neighbor re-rank from blocks). Replay-safe: deleting
    * already-absent ids touches no source and rewrites identical
    * content, so an at-least-once duplicate delivery is a no-op in
    * the served graph.
    */
  def retract(delIds: DataFrame, idCol: String, graphName: String,
      checkpointDir: String,
      autoCompactFiles: Option[Int] = None): StreamingQuery =
    delIds.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          GraphStore.delete(batch.sparkSession, graphName, batch, idCol)
          autoCompactFiles.foreach(
            GraphStore.maybeCompact(batch.sparkSession, graphName, _))
        }
      }
      .start()

  /** CDC feed (X159) — the change-stream composite on the GRAPH
    * artifact, completing the trilogy
    * ([[TextIndexStream.applyChanges]] / [[IndexStream.applyChanges]]):
    * decoded change rows (`keyCol`, `opCol` ∈ [[graft.cdc.ChangeOp]],
    * `vecCol` the row's current embedding, `seedCol` its label,
    * `tsCol`, `seqCol`) maintain the graph as upserts + tombstones.
    * Per micro-batch:
    *
    *  1. within-batch LWW — several changes to one key collapse to
    *     the batch's (ts, seq)-winner;
    *  2. ONE [[GraphStore.upsert]]: every winner key leaves the graph
    *     (an upsert of a graphed id must replace its vector — its own
    *     edges AND its appearances in other sources' top-k; an
    *     unknown key's removal is a no-op) and the non-tombstone
    *     winners merge in at the stored centroids, fused into a
    *     single generation of all three parts (r16 verdict #1 — the
    *     former delete-then-append pair left a crash window that
    *     served a graph missing the re-embedded keys until replay).
    *
    * Replay CONVERGES without markers: a redelivered epoch removes
    * exactly the keys it itself upserted and re-derives the same
    * rows at the same fixed centroids (GraphStoreSpec proves
    * stream + replay == the one-batch application). Applying batches
    * in log order IS last-writer-wins.
    */
  def applyChanges(changes: DataFrame, keyCol: String, opCol: String,
      vecCol: String, seedCol: String, graphName: String,
      checkpointDir: String, tsCol: String = "ts_sec",
      seqCol: String = "seq",
      autoCompactFiles: Option[Int] = None): StreamingQuery = {
    import org.apache.spark.sql.functions._
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
            val ups = winners
              .filter(col(opCol) =!= graft.cdc.ChangeOp.Delete)
              .select(col(keyCol), col(vecCol), col(seedCol))
            val tombs = winners
              .filter(col(opCol) === graft.cdc.ChangeOp.Delete)
              .select(col(keyCol))
            GraphStore.upsert(s, graphName, ups, keyCol, vecCol,
              seedCol, delIds = Some(tombs), delCol = keyCol)
            autoCompactFiles.foreach(
              GraphStore.maybeCompact(s, graphName, _))
          } finally winners.unpersist()
        }
      }
      .start()
  }
}
