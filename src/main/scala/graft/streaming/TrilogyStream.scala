package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.cdc.ChangeOp
import graft.ops.{GraphStore, Index, Par, TextIndex}

/** The CDC artifact feed (X156, X158, X159, X160): one decoded change
  * stream maintains any non-empty subset of the persisted artifacts —
  * the inverted text index, the ANN index and the kNN graph. A
  * production CDC row carries the document's text AND its embedding,
  * so one decode and one LWW collapse serve every target; separate
  * streams would read and collapse the same log once per artifact.
  *
  * Per micro-batch, [[collapse]] reduces several changes to one key to
  * the batch's (ts, seq)-winner, then [[upsertWinners]] issues each
  * target's single atomic generation commit ([[TextIndex.upsert]] /
  * [[Index.upsert]] / [[GraphStore.upsert]]): every winner key leaves
  * the artifact and the non-tombstone winners are ingested. Several
  * targets upsert concurrently through [[Par.jobs]]: distinct
  * artifacts, distinct tables and directories.
  *
  * Applying batches in log order IS last-writer-wins: the binlog
  * serializes a key's changes. A redelivered epoch converges: the text
  * index skips it in O(1) through its `cdc<ns>_<epoch>` batch marker,
  * and the ANN index and the graph re-derive byte-equal state from the
  * same winners (a replayed upsert removes exactly the rows it added).
  * A crash between targets leaves some a batch ahead; the replay
  * converges them all.
  */
object TrilogyStream {

  /** One artifact the feed maintains, with the change-row columns it reads. */
  sealed trait Target
  final case class Text(name: String, textCol: String) extends Target
  final case class Ann(name: String, vecCol: String) extends Target
  final case class Graph(name: String, vecCol: String, seedCol: String)
    extends Target

  /** The ordering columns every change decoder emits. */
  val TsCol = "ts_sec"
  val SeqCol = "seq"

  /** Within-batch LWW: each key's (ts, seq)-latest change. */
  def collapse(changes: DataFrame, keyCol: String): DataFrame =
    changes.withColumn("__rn", row_number().over(Window
        .partitionBy(col(keyCol)).orderBy(col(TsCol).desc, col(SeqCol).desc)))
      .filter(col("__rn") === 1).drop("__rn")

  /** Upsert collapsed `winners` into every target: `opCol` ==
    * [[ChangeOp.Delete]] rows are tombstones. `batchId` is the text
    * index's replay marker.
    */
  def upsertWinners(s: SparkSession, winners: DataFrame, keyCol: String,
      opCol: String, targets: Seq[Target],
      batchId: Option[String] = None): Unit = {
    val ups = winners.filter(col(opCol) =!= ChangeOp.Delete)
    val tombs = Some(winners.filter(col(opCol) === ChangeOp.Delete)
      .select(col(keyCol)))
    def take(cs: String*) = ups.select((keyCol +: cs).map(col): _*)
    Par.jobs(targets.map {
      case Text(n, t) => () => TextIndex.upsert(s, n, take(t), keyCol, t,
        delIds = tombs, delCol = keyCol, batchId = batchId)
      case Ann(n, v) => () => Index.upsert(s, n, take(v), keyCol, v,
        delIds = tombs, delCol = keyCol)
      case Graph(n, v, sd) => () => GraphStore.upsert(s, n, take(v, sd),
        keyCol, v, sd, delIds = tombs, delCol = keyCol)
    })
  }

  /** The feed: decoded change rows (`keyCol`, `opCol` ∈ [[ChangeOp]],
    * each target's columns, [[TsCol]], [[SeqCol]]) maintain `targets`.
    */
  def applyChanges(changes: DataFrame, keyCol: String, opCol: String,
      targets: Seq[Target], checkpointDir: String,
      autoCompactFiles: Option[Int] = None): StreamingQuery = {
    require(targets.nonEmpty, "applyChanges needs at least one target")
    def compact(s: SparkSession, files: Int): Unit = targets.foreach {
      case Text(n, _) => TextIndex.maybeCompact(s, n, files)
      case Ann(n, _) => Index.maybeCompact(s, n, files)
      case Graph(n, _, _) => GraphStore.maybeCompact(s, n, files)
    }
    streaming(changes, checkpointDir, autoCompactFiles, compact) {
      (batch, bid) =>
        val winners = collapse(batch, keyCol).persist()
        try upsertWinners(batch.sparkSession, winners, keyCol, opCol, targets,
          Some(s"cdc${TextIndexStream.ns(checkpointDir)}_$bid"))
        finally winners.unpersist()
    }
  }

  /** The three-target feed in positional form, the one perfbench's
    * `artifact_churn` workload calls.
    */
  def applyChanges(changes: DataFrame, keyCol: String, opCol: String,
      textCol: String, vecCol: String, seedCol: String,
      textIndexName: String, annIndexName: String, graphName: String,
      checkpointDir: String): StreamingQuery =
    applyChanges(changes, keyCol, opCol, Seq(Text(textIndexName, textCol),
      Ann(annIndexName, vecCol), Graph(graphName, vecCol, seedCol)),
      checkpointDir)

  /** The one micro-batch runner behind every artifact stream. The
    * checkpoint serializes triggers, matching each artifact's
    * single-writer contract; a trigger with no rows commits nothing;
    * after `body`, `compact` runs at the `autoCompactFiles` threshold,
    * so a long-lived stream keeps its file count bounded.
    */
  private[streaming] def streaming(frame: DataFrame, checkpointDir: String,
      autoCompactFiles: Option[Int] = None,
      compact: (SparkSession, Int) => Any = (_, _) => ())(
      body: (DataFrame, Long) => Unit): StreamingQuery =
    frame.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        if (!batch.isEmpty) {
          body(batch, bid)
          autoCompactFiles.foreach(compact(batch.sparkSession, _))
        }
      }
      .start()
}
