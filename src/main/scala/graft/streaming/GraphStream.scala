package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ops.GraphStore

/** Streaming kNN-graph maintenance, the [[IndexStream]] shape on the
  * graph artifact: arriving embeddings merge into the persisted edge
  * list at the stored centroids ([[GraphStore.append]], cost ∝ batch),
  * and delete requests drop sources and re-rank the survivors that lost
  * a neighbor ([[GraphStore.delete]]). Both ops are idempotent, so an
  * at-least-once replay is a no-op in the served graph (GraphStoreSpec).
  * Change streams go through [[TrilogyStream.applyChanges]].
  */
object GraphStream {
  import TrilogyStream.streaming

  /** Each micro-batch must carry an id at most once ([[GraphStore.append]]'s
    * precondition): a batch holding one id twice fails the query
    * before anything commits.
    */
  def maintain(embs: DataFrame, idCol: String, vecCol: String,
      seedCol: String, graphName: String, checkpointDir: String,
      autoCompactFiles: Option[Int] = None): StreamingQuery =
    streaming(embs, checkpointDir, autoCompactFiles,
        GraphStore.maybeCompact(_, graphName, _)) { (batch, _) =>
      GraphStore.append(batch.sparkSession, graphName, batch, idCol,
        vecCol, seedCol)
    }

  /** Takedown feed: rows of `idCol` delete from the graph per
    * micro-batch. Deleting already-absent ids touches no source, so a
    * replayed batch is a no-op.
    */
  def retract(delIds: DataFrame, idCol: String, graphName: String,
      checkpointDir: String,
      autoCompactFiles: Option[Int] = None): StreamingQuery =
    streaming(delIds, checkpointDir, autoCompactFiles,
        GraphStore.maybeCompact(_, graphName, _)) { (batch, _) =>
      GraphStore.delete(batch.sparkSession, graphName, batch, idCol)
    }
}
